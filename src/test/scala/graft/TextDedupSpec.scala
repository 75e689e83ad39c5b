package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Sketch, TextOps}

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),  // near-dup of 1
    (3L, "completely different words entirely here now"),
    (4L, "the quick brown fox jumps over the lazy dog")   // exact dup of 1
  ).toDF("doc_id", "text")

  test("shingles: count, content, short-doc guard") {
    val sh = docs.select($"doc_id", TextOps.wordShingles($"text", 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L).length == 7)                       // 9 words → 7 trigrams
    assert(sh(1L).head == "the quick brown")
    assert(sh(1L).last == "the lazy dog")
    val tiny = Seq((9L, "just two")).toDF("doc_id", "text")
      .select(TextOps.wordShingles($"text", 3)).as[Seq[String]].head()
    assert(tiny.isEmpty)
  }

  test("shingles: native expression contract at the edges") {
    // null / empty / multi-space inputs — must match the builtin
    // when/transform/slice composition the native WordShingles replaced:
    // null and sub-n docs → EMPTY array (not null); split(" ", -1)
    // preserves empty tokens from runs of spaces, exactly like Spark's
    // split(text, " ") and DuckDB string_split
    val rows = Seq((1L, null: String), (2L, ""), (3L, "a  b"), (4L, "x y"))
      .toDF("doc_id", "text")
      .select($"doc_id", TextOps.wordShingles($"text", 2).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(rows(1L) == Seq.empty)       // null text → empty, not null
    assert(rows(2L) == Seq.empty)       // "" → one empty token < n
    assert(rows(3L) == Seq("a ", " b")) // "a  b" → ["a","","b"] → 2 bigrams
    assert(rows(4L) == Seq("x y"))
  }

  test("count-min sketch: never underestimates, exact when collision-free") {
    val toks = docs.select(explode(split($"text", " ")).as("tok"))
    val exact = toks.groupBy($"tok").agg(count(lit(1)).as("exact_n"))
    val cells = Sketch.cmsBuild(toks, "tok", depth = 4, width = 256)
    // sketch is bounded by depth x width no matter the input
    assert(cells.count() <= 4L * 256)
    val est = Sketch.cmsEstimate(cells, exact, "tok", depth = 4, width = 256)
      .as[(String, Long, Long)].collect()
    assert(est.nonEmpty)
    est.foreach { case (tok, n, cms) =>
      assert(cms >= n, s"CMS underestimated '$tok': $cms < $n")
    }
    // 21 distinct tokens in 4*256 cells: argmin row is collision-free
    est.foreach { case (tok, n, cms) =>
      assert(cms == n, s"unexpected collision for '$tok': $cms != $n")
    }
    // unseen keys estimate 0 (left join + coalesce path)
    val missing = Sketch.cmsEstimate(
      cells, Seq("zebra-unseen").toDF("tok"), "tok", 4, 256)
      .as[(String, Long)].head()
    assert(missing._2 == 0L)
  }

  test("sketches: empty input yields empty cells and zero estimates, no throw") {
    val none = Seq.empty[String].toDF("tok")
    assert(Sketch.cmsBuild(none, "tok", 4, 256).isEmpty)
    assert(Sketch.amsF2(none, "tok", 4, 256).as[Option[Long]].head().isEmpty)
    // probing an empty sketch: everything estimates 0
    val est = Sketch.cmsEstimate(Sketch.cmsBuild(none, "tok", 4, 256),
                                 Seq("x").toDF("tok"), "tok", 4, 256)
      .as[(String, Long)].head()
    assert(est._2 == 0L)
  }

  test("substring spans: exact boundaries, island merge, within-doc repeats excluded") {
    val docs = Seq(
      "A" -> "a b c d e f g h i j",            // shares a..g with B
      "B" -> "x y a b c d e f g z",
      "C" -> "p q r s t",                      // no cross-doc overlap
      "D" -> "m n o u v w m n o",              // within-doc repeat ONLY
      "E" -> "q1 q2 q3 e1 e2 e3 e4 e5 q4 q5 q6", // two shared regions,
      "F" -> "q1 q2 q3 f1 f2 f3 f4 f5 q4 q5 q6"  // gap > k → two spans
    ).toDF("id", "text")
    val got = Dedup.substringSpans(docs, "id", "text", k = 3)
      .as[(String, Int, Int, Int)].collect().toSet
    assert(got === Set(
      // A/B: shared 3-grams at A pos 0..4 / B pos 2..6 merge into one
      // maximal 7-token span each
      ("A", 0, 6, 7), ("B", 2, 8, 7),
      // E/F: two regions 3 tokens each, split by a gap > k
      ("E", 0, 2, 3), ("E", 8, 10, 3),
      ("F", 0, 2, 3), ("F", 8, 10, 3)))
    // C (nothing shared) and D (repeats only within itself) are absent
  }

  test("KMV: k smallest per set, exact when unsaturated, sane when saturated") {
    import org.apache.spark.sql.functions.col
    // two sets with known overlap: A = 0..999, B = 500..1499 (∩ = 500)
    val rows = (0 until 1000).map(("A", _)) ++ (500 until 1500).map(("B", _))
    val df = rows.toDF("f", "p")
    val k = 64
    val kmv = Sketch.kmvSketch(df, "f", "p", k)
    // sketch is exactly the k smallest distinct hashes per set
    assert(kmv.groupBy(col("f")).count().as[(String, Long)].collect().toSet
      === Set(("A", k.toLong), ("B", k.toLong)))
    val est = Sketch.kmvIntersectEstimates(kmv, "f", k)
      .as[(String, String, Long)].head()
    // deterministic saturated-path estimate: rsd ≈ 1/√64 · √(U/I) ≈ 21%,
    // asserted at a loose 50% (the estimate is fixed, not re-rolled)
    assert(est._1 == "A" && est._2 == "B" &&
           math.abs(est._3 - 500L) <= 250L,
           s"saturated KMV estimate ${est._3} vs exact 500")
    // unsaturated path: sketches hold the whole sets → estimate is exact
    val tiny = ((0 until 30).map(("A", _)) ++ (10 until 40).map(("B", _)))
      .toDF("f", "p")
    val tinyEst = Sketch.kmvIntersectEstimates(
      Sketch.kmvSketch(tiny, "f", "p", k), "f", k)
      .as[(String, String, Long)].head()
    assert(tinyEst._3 == 20L, s"unsaturated KMV must be exact: $tinyEst")
    // disjoint sets: rho is null on the left join → estimate 0
    val disj = ((0 until 30).map(("A", _)) ++ (100 until 130).map(("B", _)))
      .toDF("f", "p")
    val disjEst = Sketch.kmvIntersectEstimates(
      Sketch.kmvSketch(disj, "f", "p", k), "f", k)
      .as[(String, String, Long)].head()
    assert(disjEst._3 == 0L, s"disjoint KMV must be 0: $disjEst")
  }

  test("AMS F2: exact on a collision-free multiset") {
    // keys [a,a,a,b]: F2 = 3^2 + 1^2 = 10. Two keys in 256 buckets are
    // collision-free in all 4 rows (deterministic one-digest slice
    // layout), and cell^2 is sign-invariant, so the median is exactly 10
    val keys = Seq("a", "a", "a", "b").toDF("k")
    val f2 = Sketch.amsF2(keys, "k", depth = 4, width = 256)
      .as[Long].head()
    assert(f2 == 10L)
    // odd depth reads the TRUE median row ((d-1)/2, 0-based), exact on
    // the same collision-free multiset
    assert(Sketch.amsF2(keys, "k", depth = 3, width = 256).as[Long].head() == 10L)
    intercept[IllegalArgumentException] { Sketch.amsF2(keys, "k", 0, 256) }
  }

  test("count-min sketch: merge of shard sketches equals the whole-corpus sketch") {
    // linearity — the property that lets shards/streams sketch locally
    val toks = docs.select(explode(split($"text", " ")).as("tok"))
    val whole = Sketch.cmsBuild(toks, "tok", 4, 256)
      .as[(Int, Long, Long)].collect().toSet
    val shardA = Sketch.cmsBuild(
      docs.filter($"doc_id" <= 2).select(explode(split($"text", " ")).as("tok")),
      "tok", 4, 256)
    val shardB = Sketch.cmsBuild(
      docs.filter($"doc_id" > 2).select(explode(split($"text", " ")).as("tok")),
      "tok", 4, 256)
    val merged = Sketch.cmsMerge(shardA, shardB)
      .as[(Int, Long, Long)].collect().toSet
    assert(merged == whole && merged.nonEmpty)
  }

  test("KLL levels: one digest-slice conversion per row, same stream as the inline chain") {
    // a range, not a local relation, so the projections stay in generated code
    val rows = spark.range(2048).select(($"id" * 2654435761L % 100003L).as("v"),
      $"id".as("i"), ($"id" % 3).cast("int").as("flag"))
    val key = concat_ws("|", $"i")
    val leveled = Sketch.kllLeveled(rows, Seq("flag"), $"v", key)
    // the reference: the slice re-evaluated inline in every level's CASE WHEN
    val m = md5(concat(lit("kll|"), key))
    val b = conv(substring(m, 1, 4), 16, 10).cast("long")
    val lvl = (1 to Sketch.KllMaxLevel).foldLeft(lit(0)) { (acc, l) =>
      when(b % (1L << l) === 0, lit(l)).otherwise(acc)
    }
    val inline = rows.select($"flag", $"v", lvl.as("toplvl"),
        conv(substring(m, 5, 15), 16, 10).cast("long").as("h2"))
      .select($"flag", explode(sequence(lit(0), $"toplvl")).as("l"), $"v", $"h2")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Int, Long, Long)].collect().toSeq.sorted
    assert(sorted(leveled) == sorted(inline))
    def converts(df: org.apache.spark.sql.DataFrame) = "NumberConverter\\.convert\\(".r
      .findAllMatchIn(org.apache.spark.sql.execution.debug
        .codegenStringSeq(df.queryExecution.executedPlan).map(_._2).mkString).length
    assert(converts(leveled) <= 2 && converts(inline) > 2, (converts(leveled), converts(inline)))
  }

  test("KLL quantile sketch: merge law, monotone levels, capped survivors") {
    val rows = (0 until 4096).map(i => ((i * 2654435761L) % 100003L, i.toLong))
      .toDF("v", "i")
    def lev(df: org.apache.spark.sql.DataFrame) =
      Sketch.kllLeveled(df, Nil, $"v", concat_ws("|", $"i"))
    val cap = 64 // small enough that truncation is actually exercised
    val whole = lev(rows)
    val cnts = Sketch.kllCounts(whole, Nil).as[(Int, Long)].collect().toMap
    // S_{l+1} ⊆ S_l: populations are monotone EXACTLY, not just E[]
    val byL = (0 to Sketch.KllMaxLevel).map(l => cnts.getOrElse(l, 0L))
    assert(byL.zip(byL.tail).forall { case (a, b) => b <= a } && byL.head == 4096L)
    val sWhole = Sketch.kllSurvivors(whole, Nil, cap).as[(Int, Long, Long)].collect()
    assert(sWhole.groupBy(_._1).forall(_._2.length <= cap))
    // merge law: counts cell-sum, survivors re-truncate (KMV closure)
    val a = rows.filter($"i" % 2 === 0)
    val b = rows.filter($"i" % 2 =!= 0)
    val mc = Sketch.kllMergeCounts(
      Sketch.kllCounts(lev(a), Nil), Sketch.kllCounts(lev(b), Nil))
      .as[(Int, Long)].collect().toMap
    assert(mc == cnts)
    val ms = Sketch.kllMergeSurvivors(cap,
      Sketch.kllSurvivors(lev(a), Nil, cap),
      Sketch.kllSurvivors(lev(b), Nil, cap))
      .as[(Int, Long, Long)].collect().toSet
    assert(ms == sWhole.toSet && ms.nonEmpty)
    // repartition invariance (the reference's process-count axis)
    val sRep = Sketch.kllSurvivors(lev(rows.repartition(7)), Nil, cap)
      .as[(Int, Long, Long)].collect().toSet
    assert(sRep == sWhole.toSet)
    // the same law with a group key: both merges keep the group column,
    // so merging grouped shard sketches ≡ the grouped sketch of the union
    val gk = Seq("flag")
    val g = rows.withColumn("flag", $"i" % 3)
    def glev(df: org.apache.spark.sql.DataFrame) =
      Sketch.kllLeveled(df, gk, $"v", concat_ws("|", $"i"))
    val (ga, gb) = (glev(g.filter($"i" % 2 === 0)), glev(g.filter($"i" % 2 =!= 0)))
    val gc = Sketch.kllCounts(glev(g), gk)
    val gs = Sketch.kllSurvivors(glev(g), gk, cap)
    val gmc = Sketch.kllMergeCounts(
      Sketch.kllCounts(ga, gk), Sketch.kllCounts(gb, gk))
    val gms = Sketch.kllMergeSurvivors(cap,
      Sketch.kllSurvivors(ga, gk, cap), Sketch.kllSurvivors(gb, gk, cap))
    assert(gmc.collect().toSet == gc.collect().toSet)
    assert(gms.collect().toSet == gs.collect().toSet)
    val qs = Seq(100, 500, 900)
    val gEst = Sketch.kllQuantiles(gc, gs, gk, cap, qs).collect().toSet
    assert(Sketch.kllQuantiles(gmc, gms, gk, cap, qs).collect().toSet == gEst &&
      gEst.size == 3 * qs.size)
  }

  test("KLL disk roundtrip: persisted shard sketches merge to the in-memory result") {
    // the parquet hop must be invisible: round-tripping each parity
    // shard's (counts, survivors) state through storage and merging the
    // read-back frames yields bit-identical estimates to the all-in-
    // memory merge at the same probe grid — the sketch state is plain
    // longs, so persistence preserves exactly the mergeable contract
    val dir = "/root/testdata/sf0.001"
    val disk = graft.queries.RelationalQueries.kllMergeDiskQuery(spark, dir)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val base = spark.read.parquet(s"$dir/lineitem.parquet").select(
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
      concat_ws("|", $"l_orderkey", $"l_linenumber",
                $"l_partkey", $"l_suppkey").as("rk"),
      ($"l_orderkey" % 2).as("par"))
    val lev = Sketch.kllLeveled(base, Seq("par"), $"cents", $"rk")
    def half(p: Int) = lev.filter($"par" === p)
    val cap = graft.queries.RelationalQueries.KllCap
    val mem = Sketch.kllQuantiles(
        Sketch.kllMergeCounts(Sketch.kllCounts(half(0), Nil),
                              Sketch.kllCounts(half(1), Nil)),
        Sketch.kllMergeSurvivors(cap,
                                 Sketch.kllSurvivors(half(0), Nil, cap),
                                 Sketch.kllSurvivors(half(1), Nil, cap)),
        Nil, cap, graft.queries.RelationalQueries.KllDiskQs)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(disk.nonEmpty && disk.sameElements(mem))
    graft.operators.PlanCache.releaseAll()
  }

  test("KLL estimator: exact at level 0, 5σ rank bound on the fixture") {
    // n ≤ cap → l_star = 0, the sample IS the data, estimates are exact
    // order statistics at rank ceil(q·n)
    val small = (1 to 500).map(i => (i.toLong * 7 % 1009, i.toLong))
      .toDF("v", "i")
    val lev = Sketch.kllLeveled(small, Nil, $"v", concat_ws("|", $"i"))
    val qs = Seq(100, 500, 900)
    val est = Sketch.kllQuantiles(Sketch.kllCounts(lev, Nil),
        Sketch.kllSurvivors(lev, Nil, 1024), Nil, 1024, qs)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val sortedV = small.as[(Long, Long)].collect().map(_._1).sorted
    assert(est.forall(_._2 == 0L) && est.forall(_._3 == 500L))
    qs.zip(est).foreach { case (q, e) =>
      assert(e._4 == sortedV((q * 500 + 999) / 1000 - 1), s"q=$q")
    }
    // fixture-scale audit: every probed quantile within its 5σ bound
    val err = graft.queries.RelationalQueries.kllErrorQuery(
      spark, "/root/testdata/sf0.001").collect()
    assert(err.length == 5 && err.forall(_.getAs[Boolean]("within_bound")))
    graft.operators.PlanCache.releaseAll()
  }

  test("KLL per-group: each group's sketch equals its slice's ungrouped sketch") {
    import graft.queries.RelationalQueries.{KllCap, KllQs}
    val dir = "/root/testdata/sf0.001"
    val out = graft.queries.RelationalQueries
      .kllGroupQuantilesQuery(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
    val flags = out.map(_._1).distinct
    assert(flags.length >= 2)
    // hashes ignore the group key, so slicing first is equivalent
    flags.foreach { f =>
      val base = spark.read.parquet(s"$dir/lineitem.parquet")
        .filter($"l_returnflag" === f)
        .select(
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
          concat_ws("|", $"l_orderkey", $"l_linenumber",
                    $"l_partkey", $"l_suppkey").as("rk"))
      val lev = Sketch.kllLeveled(base, Nil, $"cents", $"rk")
      val ung = Sketch.kllQuantiles(Sketch.kllCounts(lev, Nil),
          Sketch.kllSurvivors(lev, Nil, KllCap), Nil, KllCap, KllQs)
        .as[(Long, Long, Long, Long)].collect().toSet
      val grp = out.filter(_._1 == f)
        .map(t => (t._2, t._3, t._4, t._5)).toSet
      assert(grp == ung && grp.nonEmpty, s"flag $f")
    }
    graft.operators.PlanCache.releaseAll()
  }

  test("KLL merge row: merged parity-shard sketches ≡ whole-corpus sketch") {
    import graft.queries.RelationalQueries.{KllCap, KllMergeQs}
    val dir = "/root/testdata/sf0.001"
    val merged = graft.queries.RelationalQueries.kllMergeQuery(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    // independent whole-corpus build at the merge grid (no shard split)
    val base = spark.read.parquet(s"$dir/lineitem.parquet").select(
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
      concat_ws("|", $"l_orderkey", $"l_linenumber",
                $"l_partkey", $"l_suppkey").as("rk"))
    val lev = Sketch.kllLeveled(base, Nil, $"cents", $"rk")
    val whole = Sketch.kllQuantiles(Sketch.kllCounts(lev, Nil),
        Sketch.kllSurvivors(lev, Nil, KllCap), Nil, KllCap, KllMergeQs)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(merged == whole && merged.size == KllMergeQs.size)
    graft.operators.PlanCache.releaseAll()
  }

  test("KLL serving path ≡ sketch path (l_star filter commutes with truncation)") {
    // cap small enough that the estimation level is TRUNCATED (the
    // fallback branch), so the commutation is exercised where it could
    // actually differ — and on the fixture rows, where it's untruncated
    val rows = (0 until 4096).map(i => ((i * 2654435761L) % 100003L, i.toLong))
      .toDF("v", "i")
    val qs = Seq(100, 500, 900)
    // maxL = 2 at cap = 16 forces the FALLBACK branch (every populated
    // level > cap) with real truncation of the estimation level;
    // maxL = 12 covers the untruncated design regime
    for ((maxL, cap) <- Seq((2, 16), (12, 256), (12, 2048))) {
      val lev = Sketch.kllLeveled(rows, Nil, $"v", concat_ws("|", $"i"), maxL)
      val sketchPath = Sketch.kllQuantiles(Sketch.kllCounts(lev, Nil),
          Sketch.kllSurvivors(lev, Nil, cap), Nil, cap, qs)
        .as[(Long, Long, Long, Long)].collect().toSet
      val serving = Sketch.kllQuantilesServing(Sketch.kllCounts(lev, Nil),
          lev, Nil, cap, qs)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(serving == sketchPath && serving.nonEmpty, s"maxL=$maxL cap=$cap")
    }
    // grouped twin on the fixture
    val dir = "/root/testdata/sf0.001"
    import graft.queries.RelationalQueries.{KllCap, KllQs}
    val base = spark.read.parquet(s"$dir/lineitem.parquet").select(
      $"l_returnflag".as("flag"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
      concat_ws("|", $"l_orderkey", $"l_linenumber",
                $"l_partkey", $"l_suppkey").as("rk"))
    val glev = Sketch.kllLeveled(base, Seq("flag"), $"cents", $"rk")
    val gSketch = Sketch.kllQuantiles(Sketch.kllCounts(glev, Seq("flag")),
        Sketch.kllSurvivors(glev, Seq("flag"), KllCap),
        Seq("flag"), KllCap, KllQs)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val gServing = Sketch.kllQuantilesServing(
        Sketch.kllCounts(glev, Seq("flag")), glev,
        Seq("flag"), KllCap, KllQs)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(gServing == gSketch && gServing.nonEmpty)
  }

  test("KLL level pick falls back to the deepest POPULATED level") {
    // every populated level exceeds cap AND the design max level (12)
    // is absent from the counts: the estimator must estimate from the
    // deepest level that EXISTS (2), not silently return zero rows by
    // filtering on an unpopulated static maxL (ADVICE r13)
    val counts = Seq((0, 100L), (1, 60L), (2, 40L)).toDF("l", "n")
    val survivors = (0 to 2).flatMap(l => (1 to 10).map(i =>
      (l, i.toLong * 11, i.toLong * 7919))).toDF("l", "v", "h2")
    val est = Sketch.kllQuantiles(counts, survivors, Nil, cap = 10,
        qsPermille = Seq(500))
      .as[(Long, Long, Long, Long)].collect()
    assert(est.length == 1 && est.head._2 == 2L && est.head._3 == 10L)
  }

  test("exact groups find the duplicate and keep min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .filter($"n_docs" > 1).collect()
    assert(g.length == 1)
    assert(g.head.getLong(1) == 2 && g.head.getLong(2) == 1)
  }

  test("jaccard: exact dup = 1.0, near-dup high, unrelated absent") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", minJaccard = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(pairs((1L, 4L)) == 1.0)
    assert(pairs((1L, 2L)) == 6.0 / 8.0)   // 6 shared of 7+7-6 distinct trigrams
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("containment: embedded quote fires one direction, Jaccard misses it") {
    // doc 11 is doc 10's text wrapped in boilerplate: containment(11→10
    // direction) is 1.0 while Jaccard is low — the asymmetric case the
    // resemblance threshold never surfaces
    val quote = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "prefix words here alpha beta gamma delta epsilon suffix " +
            "tail words continue onward further still"),
      (12L, "unrelated content entirely different words")
    ).toDF("doc_id", "text")
    val c = Dedup.containmentPairs(quote, "doc_id", "text",
                                   minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(c((10L, 11L)) == 1.0, "all of 10's trigrams appear in 11")
    assert(!c.contains((11L, 10L)), "reverse direction is far below 0.5")
    assert(!c.keys.exists { case (a, b) => a == 12L || b == 12L })
    val j = Dedup.jaccardPairs(quote, "doc_id", "text", minJaccard = 0.5)
      .collect()
    assert(j.isEmpty, "symmetric Jaccard at the same threshold finds nothing")
    // exact dup passes in BOTH directions at 1.0
    val both = Dedup.containmentPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(both((1L, 4L)) == 1.0 && both((4L, 1L)) == 1.0)
  }

  test("minhash LSH surfaces exact and near dups as candidates") {
    val cand = Dedup.minHashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 4L)), "identical docs must share all bands")
    assert(!cand.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("simhash: identical docs equal, near-dups close, hamming sane") {
    val sh = docs.select($"doc_id", TextOps.simHash($"text").as("s"))
      .as[(Long, Int)].collect().toMap
    assert(sh(1L) == sh(4L))
    assert(sh.values.forall(v => v >= 0 && v < (1 << 16)))
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3)
    // r15 sharing contract: the pair table is persisted at construction
    // (like its jaccard/minhash siblings), so the second registry
    // consumer (dedup_method_agreement ⇄ dedup_simhash_pairs) reads the
    // CacheManager entry instead of re-running the band join — measured
    // 1.85 → 0.27 s on the sibling row
    assert(pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "simHashPairs pair table must be plan-cached for sibling reuse")
    val pm = pairs
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pm((1L, 4L)) == 0)
  }

  test("langId picks the best stopword list deterministically") {
    val preds = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "el perro y el gato es de la casa"),
      (3L, "der hund und die katze ist ein tier"),
      (4L, "xyzzy plugh qwerty")
    ).toDF("doc_id", "text")
      .select($"doc_id", TextOps.langId($"text")).as[(Long, String)]
      .collect().toMap
    assert(preds == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "und"))
  }

  test("quality score is bounded and favors stopword-rich prose") {
    val q = docs.select(TextOps.qualityScore($"text")).as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
    val qm = docs.select($"doc_id", TextOps.qualityScore($"text"))
      .as[(Long, Double)].collect().toMap
    assert(qm(1L) > qm(3L), "stopword-rich doc should outscore stopword-free")
  }

  test("prefix filtering loses no pairs vs the all-pairs threshold join") {
    // 30 docs over a tiny vocabulary → dense near-dup structure; hot
    // shingles ensure prefixes actually prune (not all postings kept)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
                       "eta", "theta")
    val corpus = (0 until 30).map { i =>
      val toks = (0 until 8 + i % 5).map(j => words((i * 7 + j * 3) % words.size))
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.7)) {
      val fast = Dedup.prefixFilterJaccardPairs(corpus, "doc_id", "text",
                                                shingleN = 2, minJaccard = t)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      // brute force: uncapped inverted-index join (maxShingleDf huge)
      val brute = Dedup.jaccardPairs(corpus, "doc_id", "text",
                                     shingleN = 2, minJaccard = t,
                                     maxShingleDf = Int.MaxValue)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      assert(fast == brute, s"prefix-filter result differs at t=$t")
    }
  }

  test("unigram NLL: Laplace model values + partitioning invariance") {
    // corpus: a:2, b:2, c:1 → T=5, V=3, T+V=8
    val corpus = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def lp6(c: Long): Long = math.round(math.log((c + 1).toDouble) * 1e6)
    val lnTV = round6(math.log(8.0))
    val expect = Map(
      1L -> (3L, round6(lnTV - (lp6(2) + lp6(2) + lp6(2)).toDouble / 1e6 / 3)),
      2L -> (2L, round6(lnTV - (lp6(2) + lp6(1)).toDouble / 1e6 / 2)))
    val got = TextOps.unigramNll(corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == expect)
    // the per-word integer-grid quantization makes the per-doc reduction
    // exact — the score must be bit-identical at any parallelism
    val re = TextOps.unigramNll(corpus.repartition(7), "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(re == expect)
  }

  test("BPE merges: match an independent in-JVM trainer; max count monotone") {
    val corpus = Seq(
      (1L, "low low lower lowest new newer"),
      (2L, "wide wider widest new new lowest")).toDF("doc_id", "text")

    // reference trainer sharing the engine's replace rule (single-pass
    // non-overlapping literal replace = java.lang.String.replace) AND
    // its batched recount: per batch, count pairs once, apply the
    // top-batchK in (count desc, pair asc) rank order with stale counts
    def train(words: Seq[String], steps: Int,
              batchK: Int): Seq[(Long, String, String, String, Long)] = {
      var wf: Map[String, Long] = words.groupBy(identity).map { case (w, g) =>
        (" " + w.toCharArray.map(_ + " ").mkString, g.size.toLong)
      }
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, String, Long)]
      // fixed-grid batch advance, mirroring the engine AND the unrolled
      // oracle: an underfilled batch still consumes batchK step slots
      var off = 0
      var stop = false
      while (off < steps && !stop) {
        val pairs = scala.collection.mutable.Map
          .empty[(String, String), Long].withDefaultValue(0L)
        wf.foreach { case (seq, cnt) =>
          val s = seq.trim.split(" ", -1)
          if (s.length > 1)
            for (i <- 0 until s.length - 1) pairs((s(i), s(i + 1))) += cnt
        }
        if (pairs.isEmpty) stop = true
        else {
          val kb = math.min(batchK, steps - off)
          val top = pairs.toSeq
            .sortBy { case ((a, b), c) => (-c, a, b) }
            .take(kb)
          top.zipWithIndex.foreach { case (((a, b), c), j) =>
            out += (((off + j + 1).toLong, a, b, a + b, c))
            wf = wf.groupMapReduce(
              _._1.replace(s" $a $b ", s" $a$b "))(_._2)(_ + _)
          }
          off += kb
        }
      }
      out.toSeq
    }

    val words = corpus.select(explode(split($"text", " ")).as("w"))
      .as[String].collect().toSeq
    // batchK = 1 is exact greedy BPE
    val expect = train(words, 6, 1)
    val got = TextOps.bpeMerges(corpus, "text", 6, batchK = 1)
      .as[(Long, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got == expect)
    // merging the argmax pair can only shrink existing pair counts, and a
    // created pair inherits at most the merged pair's count — the greedy
    // selected count sequence is non-increasing
    val counts = got.map(_._5)
    assert(counts.zip(counts.tail).forall { case (x, y) => x >= y })
    // batched trainer (the registry's production shape): stale in-batch
    // counts, recount per batch — must match the reference batch-for-batch
    val expectB = train(words, 7, 3)
    val gotB = TextOps.bpeMerges(corpus, "text", 7, batchK = 3)
      .as[(Long, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(gotB == expectB)
    // within a batch the recorded (stale) counts are rank-ordered
    gotB.grouped(3).foreach { batch =>
      val cs = batch.map(_._5)
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    }
    // RAGGED TAIL + exhaustion (the regime a 256-step run enters): ask
    // for far more merges than the corpus holds. The trainer must (a)
    // stay on the fixed batch grid through underfilled recounts — step
    // numbers jump across consumed-but-empty slots exactly like the
    // unrolled oracle's rank grid — and (b) stop at exhaustion
    val expectX = train(words, 200, 8)
    val gotX = TextOps.bpeMerges(corpus, "text", 200, batchK = 8)
      .as[(Long, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(gotX == expectX)
    assert(gotX.size < 200, "corpus must exhaust below the step budget")
    // the tail really was ragged: at least one batch underfilled, so the
    // recorded step numbers have a gap at some batch boundary
    assert(gotX.map(_._1).toSet.size == gotX.size)
    assert(gotX.last._1 > gotX.size,
      "fixed-grid step numbering must skip unfilled slots")

    // encode pass: zero merges → every char is a token (ratio exactly
    // 1000‰); the trained merges strictly compress this corpus
    val zero = TextOps.bpeEncodeStats(corpus, "text", Seq.empty)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(zero._3 == zero._4 && zero._5 == 1000L)
    val enc = TextOps.bpeEncodeStats(corpus, "text",
        expect.map(m => (m._2, m._3)))
      .as[(Long, Long, Long, Long, Long)].head()
    assert(enc._1 == zero._1 && enc._2 == zero._2 && enc._3 == zero._3)
    assert(enc._4 < enc._3 && enc._5 < 1000L)
    // and the token total matches the reference trainer's final state:
    // sum over words of cnt × post-merge symbol count
    val refWf0: Map[String, Long] = words.groupBy(identity).map { case (w, g) =>
      (" " + w.toCharArray.map(_ + " ").mkString, g.size.toLong) }
    val refWfK = expect.foldLeft(refWf0) { case (m, (_, a, b, _, _)) =>
      m.groupMapReduce(_._1.replace(s" $a $b ", s" $a$b "))(_._2)(_ + _) }
    val refTokens = refWfK.map { case (seq, cnt) =>
      cnt * seq.trim.split(" ", -1).length }.sum
    assert(enc._4 == refTokens)
  }

  test("unigram-LM tokenizer: matches an independent in-JVM trainer") {
    import graft.operators.UnigramLM
    // shared sub-words across related surface forms force real
    // segmentation (MaxPiece=4 < longest word), plus repetition so
    // frequency weighting matters
    val sentences = Seq(
      "tokenize the token tokens ize size resize",
      "tokenize tokenize the the the size wise",
      "resize rewise wise ize token")
    val corpus = sentences.map(Tuple1(_)).toDF("text")

    // independent reference trainer: plain Scala collections, same
    // spec (seed = all substrings len<=MaxPiece, hard-EM Viterbi with
    // composite-min tie-break toward the smaller predecessor, prune
    // zero-usage pieces, re-score on the 1e-6 log grid)
    val words: Map[String, Long] = sentences.flatMap(_.split(" "))
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    def lp(m: Map[String, Long]): Map[String, Long] = {
      val t = UnigramLM.qln(m.values.sum)
      m.map { case (p, c) => p -> (UnigramLM.qln(c) - t) }
    }
    val seed = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    for ((w, c) <- words; j <- 0 until w.length;
         l <- 1 to math.min(UnigramLM.MaxPiece, w.length - j))
      seed(w.substring(j, j + l)) += c
    var vocab = lp(seed.toMap)
    var counts: Map[String, Long] = Map.empty
    for (r <- 1 to UnigramLM.Rounds) {
      val cm = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      for ((w, c) <- words) {
        val L = w.length
        val b = Array.fill(L + 1)(0L)
        for (i <- 1 to L) {
          b(i) = (math.max(0, i - UnigramLM.MaxPiece) until i).map { j =>
            val cost = vocab.get(w.substring(j, i)).map(-_)
              .getOrElse(UnigramLM.Inf)
            (b(j) / UnigramLM.Slot + cost) * UnigramLM.Slot + j
          }.min
        }
        var e = L
        while (e >= 1) {
          val s = (b(e) % UnigramLM.Slot).toInt
          cm(w.substring(s, e)) += c
          e = s
        }
      }
      counts = cm.toMap
      if (r < UnigramLM.Rounds) vocab = lp(counts)
    }

    val got = UnigramLM.train(corpus, "text")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got == counts)
    // segmentation is exhaustive: piece uses x lengths cover every char
    val totalChars = words.map { case (w, c) => w.length * c }.sum
    assert(got.map { case (p, c) => p.length * c }.sum == totalChars)
    // pruning bit: the seed had strictly more pieces than survive
    assert(got.size < seed.size)
  }

  test("stupid-backoff trigram scorer matches an independent in-JVM scorer") {
    import graft.operators.TextOps
    // train corpus: repeated pattern so trigrams/bigrams have counts;
    // score docs hit all three levels: seen trigram, bigram backoff,
    // unigram backoff incl. a genuinely OOV word
    val trainRows = Seq(
      (0L, "the cat sat on the mat"),
      (2L, "the cat sat on a chair"),
      (4L, "a dog sat on the mat"))
    val scoreRows = Seq(
      (1L, "the cat sat on the mat"),    // all trigrams seen
      (3L, "the cat ate on the mat"),    // 'cat ate'/'ate on' unseen
      (5L, "zebra quagga sat on it"))    // OOV words
    val train = trainRows.toDF("doc_id", "text")
    val score = scoreRows.toDF("doc_id", "text")

    def grams(ws: Seq[String], n: Int): Seq[Seq[String]] =
      if (ws.length < n) Seq.empty else ws.sliding(n).toSeq
    val tws = trainRows.map(_._2.split(" ").toSeq)
    def countOf[K](xs: Seq[K]): Map[K, Long] =
      xs.groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    val c3 = countOf(tws.flatMap(grams(_, 3)))
    val c2 = countOf(tws.flatMap(grams(_, 2)))
    val c1 = countOf(tws.flatten)
    val n = c1.values.sum; val v = c1.size.toLong
    def qln(x: Long): Long = math.round(math.log(x.toDouble) * 1e6)
    def s6(t: Seq[String]): (Long, Int) =
      if (c3.contains(t)) (qln(c3(t)) - qln(c2(t.take(2))), 0)
      else if (c2.contains(t.drop(1)))
        (TextOps.Qln04 + qln(c2(t.drop(1))) - qln(c1(t(1))), 1)
      else (2 * TextOps.Qln04 + qln(c1.getOrElse(t(2), 0L) + 1)
              - qln(n + v), 2)
    val expected = scoreRows.map { case (id, txt) =>
      val ts = grams(txt.split(" ").toSeq, 3).map(s6)
      val nll = BigDecimal(-(ts.map(_._1).sum.toDouble / 1e6) / ts.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      id -> ((id, ts.size.toLong, ts.count(_._2 == 1).toLong,
              ts.count(_._2 == 2).toLong, nll))
    }.toMap

    val got = TextOps.trigramBackoffNll(train, score, "doc_id", "text")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got == expected)
    // the split exercises every level
    assert(got(1L)._3 == 0 && got(1L)._4 == 0)
    assert(got(3L)._3 + got(3L)._4 > 0 && got(5L)._4 > 0)
    // higher backoff usage must cost more (quality signal ordering)
    assert(got(5L)._5 > got(1L)._5)
  }

  test("unigram-LM encode: per-doc piece stats match an independent encoder") {
    import graft.operators.UnigramLM
    val sentences = Seq(
      "tokenize the token tokens ize size resize",
      "tokenize tokenize the the the size wise",
      "resize rewise wise ize token")
    val corpus = sentences.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

    // independent reference: train as in the trainer spec, but carry
    // the FINAL re-score (encode model = re-scored round-R survivors)
    val words: Map[String, Long] = sentences.flatMap(_.split(" "))
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    def lp(m: Map[String, Long]): Map[String, Long] = {
      val t = UnigramLM.qln(m.values.sum)
      m.map { case (p, c) => p -> (UnigramLM.qln(c) - t) }
    }
    val seed = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    for ((w, c) <- words; j <- 0 until w.length;
         l <- 1 to math.min(UnigramLM.MaxPiece, w.length - j))
      seed(w.substring(j, j + l)) += c
    var vocab = lp(seed.toMap)
    def segPieces(w: String): Long = {
      val L = w.length
      val b = Array.fill(L + 1)(0L)
      for (i <- 1 to L)
        b(i) = (math.max(0, i - UnigramLM.MaxPiece) until i).map { j =>
          val cost = vocab.get(w.substring(j, i)).map(-_)
            .getOrElse(UnigramLM.Inf)
          (b(j) / UnigramLM.Slot + cost) * UnigramLM.Slot + j
        }.min
      var (e, n) = (L, 0L)
      while (e >= 1) { n += 1; e = (b(e) % UnigramLM.Slot).toInt }
      n
    }
    for (_ <- 1 to UnigramLM.Rounds) {
      val cm = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      for ((w, c) <- words) {
        val L = w.length
        val b = Array.fill(L + 1)(0L)
        for (i <- 1 to L)
          b(i) = (math.max(0, i - UnigramLM.MaxPiece) until i).map { j =>
            val cost = vocab.get(w.substring(j, i)).map(-_)
              .getOrElse(UnigramLM.Inf)
            (b(j) / UnigramLM.Slot + cost) * UnigramLM.Slot + j
          }.min
        var e = L
        while (e >= 1) {
          val s = (b(e) % UnigramLM.Slot).toInt
          cm(w.substring(s, e)) += c
          e = s
        }
      }
      vocab = lp(cm.toMap)
    }
    val expected = sentences.zipWithIndex.map { case (t, i) =>
      val ws = t.split(" ").toSeq
      val pieces = ws.map(segPieces).sum
      val chars = ws.map(_.length.toLong).sum
      i.toLong -> ((i.toLong, ws.size.toLong, pieces, chars,
                    pieces * 1000 / chars))
    }.toMap

    val got = UnigramLM.encodeStats(corpus, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got == expected)
    // encode really sub-segments: more pieces than words somewhere
    assert(got.values.exists(r => r._3 > r._2))
  }

  test("unigram-LM tokenizer: MaxWord guard raises loudly") {
    val bad = Seq(Tuple1("short " + "x" * (graft.operators.UnigramLM.MaxWord + 1)))
      .toDF("text")
    val e = intercept[Exception] {
      graft.operators.UnigramLM.train(bad, "text").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("longer than MaxWord")))
  }

  test("line-level dedup: cross-doc boilerplate removed, unique kept") {
    // 3-token "lines"; the cookie-banner line opens docs 1-3, doc 4 is
    // clean; within-doc repetition alone (doc 5) must NOT flag
    val corpus = Seq(
      (1L, "accept all cookies alpha beta gamma delta"),
      (2L, "accept all cookies epsilon zeta eta theta"),
      (3L, "accept all cookies iota kappa lambda"),
      (4L, "mu nu xi omicron pi rho"),
      (5L, "tau tau tau tau tau tau") // same line twice, ONE doc only
    ).toDF("doc_id", "text")
    val got = Dedup.lineDedup(corpus, "doc_id", "text",
        segTokens = 3, minDocs = 2)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // doc 1: lines = [accept all cookies][alpha beta gamma][delta]
    assert(got(1L) == ((1L, 3L, 1L, 4L, 333L)))
    assert(got(2L) == ((2L, 3L, 1L, 4L, 333L)))
    assert(got(3L) == ((3L, 2L, 1L, 3L, 500L)))   // ragged last segment
    assert(got(4L) == ((4L, 2L, 0L, 6L, 0L)))     // untouched
    // doc 5's repeated line lives in one doc — distinct-doc count 1
    assert(got(5L) == ((5L, 2L, 0L, 6L, 0L)))
  }

  test("line dedup: minDocs threshold and empty-doc guard") {
    val corpus = Seq(
      (1L, "a b c d e f"), (2L, "a b c x y z"), (3L, "a b c q r s"),
      (4L, null: String)
    ).toDF("doc_id", "text")
    // minDocs = 3: the shared lead line spans exactly 3 docs → removed
    val strict = Dedup.lineDedup(corpus, "doc_id", "text",
        segTokens = 3, minDocs = 3)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(strict(1L) == 1L && strict(2L) == 1L && strict(3L) == 1L)
    // minDocs = 4: nothing crosses the bar
    val loose = Dedup.lineDedup(corpus, "doc_id", "text",
        segTokens = 3, minDocs = 4)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(loose.forall(_._3 == 0L))
    // the null doc tokenizes to no tokens → zero lines → absent (the
    // sequence(1,0) descending-array trap would fabricate 2 lines)
    assert(!strict.contains(4L))
  }

  // docs 1-3 share the "x y z w" prefix → its two 3-grams have df = 3
  // and cross maxShingleDf = 2 (hot); docs 1-2 additionally share the
  // "p q r s" tail (df = 2, kept) so surviving pairs exist
  private def hotCorpus = Seq(
    (1L, "x y z w p q r s"), (2L, "x y z w p q r s"),
    (3L, "x y z w m n o t")
  ).toDF("doc_id", "text")

  // executed plan plus every cached plan under it: the jaccard and
  // containment anti joins live inside the PlanCache-persisted
  // `filtered` frame
  private def deepPlan(df: org.apache.spark.sql.DataFrame): String = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p.toString +: p.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          s.relation.cachedPlan
      }.flatMap(walk)
    walk(df.queryExecution.executedPlan).mkString("\n")
  }

  /** The hot-side probe carries no hint, so Spark's size rule alone
    * picks its strategy: a BroadcastHashJoin (of `joinType`) at the
    * default threshold, none with auto-broadcast off, and the same
    * non-empty rows either way. */
  private def strategyInvariant[T: Ordering](joinType: String)(
      build: => org.apache.spark.sql.DataFrame)(
      rows: org.apache.spark.sql.DataFrame => Array[T]): Array[T] = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    graft.operators.PlanCache.releaseAll()
    try {
      val auto = build
      assert(deepPlan(auto).linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains(joinType)))
      val a = rows(auto).sorted
      // drop the first run's persisted frames: join strategies are
      // erased in plan canonicalization, so the rebuild would otherwise
      // sameResult-hit the cached broadcast probe
      graft.operators.PlanCache.releaseAll()
      spark.conf.set(key, "-1")
      val shuffled = build
      assert(!deepPlan(shuffled).contains("BroadcastHashJoin"))
      val b = rows(shuffled).sorted
      assert(a.sameElements(b) && a.nonEmpty)
      a
    } finally spark.conf.set(key, old)
  }

  test("line dedup: hot-line probe is strategy-invariant") {
    val corpus = Seq(
      (1L, "a b c d e f"), (2L, "a b c x y z"), (3L, "m n o p q r")
    ).toDF("doc_id", "text")
    val a = strategyInvariant("LeftOuter")(
      Dedup.lineDedup(corpus, "doc_id", "text", segTokens = 3))(
      _.as[(Long, Long, Long, Long, Long)].collect())
    // the shared "a b c" line is removed from docs 1 and 2 only
    assert(a.map(r => r._1 -> r._3).toMap == Map(1L -> 1L, 2L -> 1L, 3L -> 0L))
  }

  test("jaccard pairs: hot-shingle anti join is strategy-invariant") {
    val a = strategyInvariant("LeftAnti")(
      Dedup.jaccardPairs(hotCorpus, "doc_id", "text",
        minJaccard = 0.2, maxShingleDf = 2))(
      _.select($"doc_a", $"doc_b", $"n_common").as[(Long, Long, Long)].collect())
    // 4 surviving common shingles (6 total, 2 hot-blocked)
    assert(a.contains((1L, 2L, 4L)))
  }

  test("containment pairs: hot-shingle anti join is strategy-invariant") {
    val a = strategyInvariant("LeftAnti")(
      Dedup.containmentPairs(hotCorpus, "doc_id", "text",
        minContainment = 0.5, maxShingleDf = 2))(
      _.select($"contained_id", $"container_id", $"n_common")
        .as[(Long, Long, Long)].collect())
    // docs 1 and 2 contain each other through the 4 kept shingles
    assert(a.toSet == Set((1L, 2L, 4L), (2L, 1L, 4L)))
  }

  test("dedup operators build lazily: construction starts no Spark job") {
    val sc = spark.sparkContext
    val group = "dedup-construction"
    graft.operators.PlanCache.releaseAll()
    sc.setJobGroup(group, "construct dedup operators")
    try {
      Dedup.jaccardPairs(hotCorpus, "doc_id", "text", maxShingleDf = 2)
      Dedup.containmentPairs(hotCorpus, "doc_id", "text", maxShingleDf = 2)
      Dedup.lineDedup(hotCorpus, "doc_id", "text", segTokens = 3)
      Dedup.lineDedupIncrement(
        Dedup.hotLines(hotCorpus, "doc_id", "text", segTokens = 3),
        Seq((9L, "x y z w a b")).toDF("doc_id", "text"),
        "doc_id", "text", segTokens = 3)
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
  }

  test("domain line dedup: hot rule is domain-scoped, masses are exact") {
    // "a b c" spans 2 docs of s1 (hot THERE) and only 1 doc of s2 (not
    // hot there) — the domain scoping a corpus-global rule would miss
    val corpus = Seq(
      (1L, "s1", "a b c d e f"),
      (2L, "s1", "a b c x y z"),
      (3L, "s2", "a b c q r s"),
      (4L, "s2", "m n o p q r")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.domainLineDedup(corpus, "doc_id", "source", "text",
        segTokens = 3)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // s1: 4 lines, the shared "a b c" is hot in both carriers → 2 dup
    // lines removed, 2 × 3 tokens kept, 500‰
    assert(out("s1") == (("s1", 2L, 4L, 2L, 6L, 500L)))
    // s2: same segment is NOT hot within s2 → nothing removed
    assert(out("s2") == (("s2", 2L, 4L, 0L, 12L, 0L)))
  }

  test("domain overlap counts shared distinct segments, capped by spread") {
    // 3-token segments; s1 & s2 share "a b c"; "x y z" spans all three
    // domains and is dropped as universal boilerplate at maxDomains=2
    val corpus = Seq(
      (1L, "s1", "a b c x y z"),
      (2L, "s2", "a b c x y z"),
      (3L, "s3", "x y z q r s")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.domainOverlap(corpus, "doc_id", "source", "text",
        segTokens = 3, maxDomains = 2)
      .as[(String, String, Long)].collect().toSet
    assert(out == Set(("s1", "s2", 1L)))
    // raising the cap admits the universal segment into every pair
    val all = Dedup.domainOverlap(corpus, "doc_id", "source", "text",
        segTokens = 3, maxDomains = 3)
      .as[(String, String, Long)].collect().toSet
    assert(all == Set(("s1", "s2", 2L), ("s1", "s3", 1L),
                      ("s2", "s3", 1L)))
    graft.operators.PlanCache.releaseAll()
  }

  test("HLL: merge law is exact, duplicates are free, slices stay in range") {
    val keys = (1 to 4000).map(i => s"user-$i")
    def regs(ks: Seq[String]) =
      Sketch.hllRegisters(ks.toDF("k").withColumn("g", lit(1)),
                          "k", Seq("g"), 64)
        .as[(Int, Long, Long)].collect().toSet
    val a = keys.take(2500)
    val b = keys.drop(1500)                    // overlaps a on 1501..2500
    val merged = Sketch.hllMerge(
        Sketch.hllRegisters(a.toDF("k").withColumn("g", lit(1)),
                            "k", Seq("g"), 64),
        Sketch.hllRegisters(b.toDF("k").withColumn("g", lit(1)),
                            "k", Seq("g"), 64))
      .as[(Int, Long, Long)].collect().toSet
    val direct = regs(keys)
    assert(merged == direct)                   // merge(A, B) == sketch(A ∪ B)
    assert(regs(keys ++ a ++ b) == direct)     // max absorbs duplicates
    direct.foreach { case (_, bucket, reg) =>
      assert(bucket >= 0 && bucket < 64 && reg >= 1 && reg <= 41)
    }
  }

  test("HLL estimate: deterministic error within the rsd envelope") {
    // fixed keys → fixed md5 → ONE deterministic roll per cardinality
    // (never re-rolled by gate scale — the round-5 sigma-width gotcha
    // doesn't apply); rsd at m=64 is 1.04/√64 ≈ 13%, bound set at ~2.3σ
    // of the observed-stable draws
    for (n <- Seq(500, 4000, 20000)) {
      val st = Sketch.hllState(
          Sketch.hllRegisters((1 to n).map(i => s"user-$i").toDF("k")
                                .withColumn("g", lit(1)), "k", Seq("g"), 64),
          Seq("g"), 64)
        .as[(Int, Long, Long, Long, Long)].head()
      val est = Sketch.hllEstimate(64, st._2, st._5)
      assert(math.abs(est - n) / n.toDouble < 0.30,
             s"n=$n est=$est off by ${math.abs(est - n) / n}")
    }
    // small-n linear-counting branch: near-exact when buckets are sparse
    val tiny = Sketch.hllState(
        Sketch.hllRegisters((1 to 20).map(i => s"user-$i").toDF("k")
                              .withColumn("g", lit(1)), "k", Seq("g"), 64),
        Seq("g"), 64)
      .as[(Int, Long, Long, Long, Long)].head()
    val tinyEst = Sketch.hllEstimate(64, tiny._2, tiny._5)
    assert(math.abs(tinyEst - 20) <= 4, s"linear-counting est $tinyEst")
  }

  test("wordpiece: greedy segments match an independent encoder") {
    import graft.operators.WordPiece
    val init = Map("t" -> 1, "to" -> 2, "tok" -> 3, "toke" -> 4,
                   "a" -> 1, "ab" -> 2)
    val cont = Map("n" -> 1, "en" -> 2, "ken" -> 3, "e" -> 1, "b" -> 1)
    def ref(w: String): (Long, Boolean) = {
      var pos = 0; var np = 0L; val L = w.length
      while (pos < L) {
        val m = if (pos == 0) init else cont
        (math.min(WordPiece.MaxPiece, L - pos) to 1 by -1)
          .find(l => m.contains(w.substring(pos, pos + l))) match {
          case Some(l) => np += 1; pos += l
          case None => return (1L, true)
        }
      }
      (np, false)
    }
    // "token" = toke+n; "toke" hits the end-of-word truncated lookups;
    // "tokens" goes UNK at the trailing s; "" is the empty token
    val words = Seq("token", "toke", "ab", "abe", "t", "tokens", "x", "")
    val got = WordPiece.greedySegments(
        words.map(w => (w, 1L)).toDF("word", "cnt"), init, cont, 6)
      .as[(String, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == words.map(w => w -> ref(w)).toMap)
    assert(got("token") == ((2L, false)) && got("tokens") == ((1L, true)))
  }

  test("wordpiece encode: train-even/encode-odd stats, UNK fires") {
    import graft.operators.WordPiece
    val corpus = Seq(
      (0L, "abc abd a"), (2L, "abc"),          // train slice
      (1L, "abc abq z a"), (3L, "abd abd")     // encode slice
    ).toDF("doc_id", "text")
    // tiny corpus → every train substring is in the top-160 vocab, so
    // greedy = longest train-substring match: "abc"→abc, "abq"→ab then
    // q unseen → UNK, "z"→UNK, "a"→a, "abd"→abd
    val got = WordPiece.encodeStats(corpus, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got == Map(
      1L -> ((1L, 4L, 4L, 2L, 8L, 500L)),
      3L -> ((3L, 2L, 2L, 0L, 6L, 333L))))
  }
}
