package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.{BandStats, Composite, Dedup, Graphs, TextOps}
import graft.queries.Canon

/** Property-based checks (SURVEY §5.2): aggregation ≡ naive fold,
  * repartition invariance (the reference's process-count axis),
  * composite row preservation, dedup containment. Plain ScalaCheck
  * driven through Test.check (no scalatestplus bridge in this env). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(12)   // each trial runs Spark jobs; keep bounded
    .withWorkers(1)

  private def check(name: String, prop: Prop): Unit = {
    val r = SCTest.check(params, prop)
    assert(r.passed, s"$name: ${r.status}")
  }

  private val pixelGen = Gen.nonEmptyListOf(for {
    file <- Gen.oneOf("f1", "f2", "f3")
    band <- Gen.choose(1, 3)
    value <- Gen.oneOf(Gen.const(0.0), Gen.choose(-100.0, 100.0))
  } yield (file, band, value))

  test("mean-of-means equals the naive two-pass fold") {
    check("fold", Prop.forAll(pixelGen) { rows =>
      val df = rows.toDF("file", "band", "value")
      val got = BandStats.bandStats(
        BandStats.bandFileMeans(df, "file", "band", "value"), "band")
        .select("band", "mean_of_means").as[(Int, Double)].collect().toMap
      val expected = rows.filter(_._3 != 0.0)
        .groupBy(r => (r._1, r._2)).toList  // keep one entry PER (file,band)
        .map { case ((_, b), rs) => b -> rs.map(_._3).sum / rs.size }
        .groupBy(_._1)
        .map { case (b, ms) => b -> ms.map(_._2).sum / ms.size }
      expected.keySet == got.keySet && expected.forall { case (b, m) =>
        math.abs(got(b) - m) <= 1e-9 * math.max(1.0, math.abs(m))
      }
    })
  }

  test("band stats invariant under repartitioning (process-count axis)") {
    check("repartition", Prop.forAll(pixelGen, Gen.choose(1, 6)) { (rows, n) =>
      val df = rows.toDF("file", "band", "value")
      def stats(d: org.apache.spark.sql.DataFrame) = BandStats.bandStats(
        BandStats.bandFileMeans(d, "file", "band", "value", exact = true),
        "band", exact = true).collect().toSet
      stats(df) == stats(df.repartition(n))
    })
  }

  // Canon.exactSum against the built-in decimal sum it replaces, kept
  // here as the reference: same double, bit for bit, at both scales
  // BandStats uses, over double and float inputs.
  private val exactScales = Seq(DecimalType(18, 4), DecimalType(18, 6))
  private val exactEdges = Seq(1000000.0625f.toDouble, -0.0, 0.00005, -0.00005) ++
    Seq(math.pow(2, 50) / 1e4, math.pow(2, 50) / 1e6)
      .flatMap(v => Seq(math.nextDown(v), v, math.nextUp(v), -v))
  private val exactValueGen: Gen[Option[Double]] = Gen.frequency(
    1 -> Gen.const(None),
    4 -> Gen.choose(-10000000000L, 10000000000L).map(n => Some(n / 1e4)),
    2 -> Gen.choose(-1000000L, 1000000L).map(n => Some((10 * n + 5) / 1e5)), // 5th-decimal ties
    1 -> Gen.oneOf(exactEdges).map(Some(_)))

  /** Per group g: (exactSum, reference) pairs as raw bits, for x and f. */
  private def exactVsReference(df: DataFrame): Map[Int, Seq[(Option[Long], Option[Long])]] = {
    val aggs = for (c <- Seq("x", "f"); d <- exactScales)
      yield Seq(Canon.exactSum(col(c), d), sum(col(c).cast(d)).cast("double"))
    def bits(r: org.apache.spark.sql.Row, i: Int) =
      if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
    df.groupBy("g").agg(aggs.flatten.head, aggs.flatten.tail: _*).collect()
      .map(r => r.getInt(0) -> (1 until r.length by 2).map(i => (bits(r, i), bits(r, i + 1))))
      .toMap
  }

  test("exactSum is the decimal sum, bit for bit, under any partitioning") {
    val rowGen = Gen.listOf(Gen.zip(Gen.choose(0, 3), exactValueGen))
    check("exactSum", Prop.forAll(rowGen, Gen.choose(1, 4)) { (rows, n) =>
      val all = rows ++ Seq((9, None), (9, None))  // group 9 is all-null
      val df = all.map { case (g, x) => (g, x, x.map(_.toFloat)) }.toDF("g", "x", "f")
      val got = exactVsReference(df.repartition(n))
      got(9).forall(_ == ((None, None))) &&
        got == exactVsReference(df.repartition(1)) &&
        got.values.forall(_.forall { case (e, ref) => e == ref })
    })
    val empty = Seq.empty[(Int, Option[Double], Option[Float])].toDF("g", "x", "f")
    assert(exactVsReference(empty).isEmpty)
    assert(empty.agg(Canon.exactSum(col("x"))).head().isNullAt(0))
  }

  test("exact band stats still raise out-of-range values, at both levels") {
    def raises(df: DataFrame): Boolean = {
      val e = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("NUMERIC_VALUE_OUT_OF_RANGE"))
    }
    val px = Seq(("f1", 1, 1e14), ("f1", 1, 1.0)).toDF("file", "band", "value")
    val l1 = Seq(("f1", 1, 1e14, 1L)).toDF("file", "band", "mean_value", "n_valid")
    assert(raises(BandStats.bandFileMeans(px, "file", "band", "value", exact = true)))
    assert(raises(BandStats.bandStats(l1, "band", exact = true)
      .select("band", "mean_of_means")))
  }

  test("exact band stats sum no decimals (the BIGINT exact-sum path)") {
    val px = Seq(("f1", 1, 1.5), ("f2", 1, 2.25)).toDF("file", "band", "value")
    val l1 = BandStats.bandFileMeans(px, "file", "band", "value", exact = true)
    for (df <- Seq(l1, BandStats.bandStats(l1, "band", exact = true))) {
      val sums = df.queryExecution.optimizedPlan
        .collect { case a: Aggregate => a.aggregateExpressions }.flatten
        .flatMap(_.collect { case s: Sum => s })
      assert(sums.nonEmpty, df.queryExecution.optimizedPlan)
      assert(sums.forall(!_.child.dataType.isInstanceOf[DecimalType]),
             df.queryExecution.optimizedPlan)
    }
  }

  test("composite pivot emits one row per key, values preserved") {
    check("pivot", Prop.forAll(pixelGen) { rows =>
      val df = rows.toDF("file", "band", "value")
      val out = Composite.pivotBands(df, Seq("file"), "band", "value",
                                     Seq(1 -> "b1", 2 -> "b2"))
      val expectKeys = rows.filter(r => r._2 == 1 || r._2 == 2).map(_._1).toSet
      val got = out.select("file", "b1").as[(String, Option[Double])]
        .collect().toMap
      got.keySet == expectKeys && got.forall { case (f, b1) =>
        val vals = rows.filter(r => r._1 == f && r._2 == 1).map(_._3)
        b1 == (if (vals.isEmpty) None else Some(vals.max))
      }
    })
  }

  test("salted aggregation equals the plain groupBy for any salt width") {
    val rowGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.oneOf("A", "B"), Gen.choose(1L, 1000L), Gen.choose(0.0, 100.0)))
    check("salted", Prop.forAll(rowGen, Gen.choose(1, 8)) { (rows, buckets) =>
      val df = rows.toDF("grp", "key", "v")
      val salted = graft.operators.Relational.saltedAgg(
        df, Seq("grp"), col("key"), buckets,
        Seq((count(lit(1)), "n", (c: org.apache.spark.sql.Column) =>
               sum(c).cast("long")),
            (sum(graft.queries.Canon.dec(col("v"))), "s",
             (c: org.apache.spark.sql.Column) => sum(c).cast("double"))))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val plain = df.groupBy(col("grp"))
        .agg(count(lit(1)).as("n"),
             sum(graft.queries.Canon.dec(col("v"))).cast("double").as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      salted == plain
    })
  }

  test("asof join equals the naive latest-prior scan") {
    val evGen = for {
      lefts <- Gen.nonEmptyListOf(Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 50L)))
      rights <- Gen.listOf(Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 50L)))
    } yield (lefts.zipWithIndex.map { case ((u, t), i) => (u, t, i.toLong) },
             // dedupe rights per (key, ts): the documented precondition
             rights.zipWithIndex.map { case ((u, t), i) => (u, t, 1000L + i) }
               .groupBy(r => (r._1, r._2)).values.map(_.maxBy(_._3)).toList)
    check("asof", Prop.forAll(evGen) { case (lefts, rights) =>
      val got = graft.operators.Relational.asofJoin(
        lefts.toDF("user_id", "ts_us", "click_id"),
        rights.toDF("user_id", "ts_us", "purchase_id"),
        Seq("user_id"), "ts_us", "ts_us", "purchase_id")
        .select($"click_id", $"__asof").as[(Long, Option[Long])]
        .collect().toMap
      val expected = lefts.map { case (u, t, id) =>
        val prior = rights.filter(r => r._1 == u && r._2 <= t)
        id -> (if (prior.isEmpty) None
               else Some(prior.maxBy(r => (r._2, r._3))._3))
      }.toMap
      got == expected
    })
  }

  private val docGen = Gen.nonEmptyListOf(
    Gen.nonEmptyListOf(Gen.oneOf("ant", "bee", "cat", "dog", "elk"))
      .map(_.mkString(" ")))

  test("shingle count law and exact-dup containment in minhash candidates") {
    check("dedup", Prop.forAll(docGen) { texts =>
      // ids assigned here, not in the gen — shrinking must not break uniqueness
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = docs.toDF("doc_id", "text")
      val shingleOk = df.select(TextOps.tokenCount($"text").as("n"),
                                size(TextOps.wordShingles($"text", 3)).as("s"))
        .as[(Int, Int)].collect()
        .forall { case (n, s) => s == math.max(0, n - 2) }
      // docs shorter than the shingle width have no signature at all
      // (documented on minHashCandidatePairs) — containment holds for ≥n
      val dupPairs = docs.filter(_._2.split(" ").length >= 3)
        .groupBy(_._2).values.filter(_.size > 1)
        .flatMap(g => g.map(_._1).sorted.combinations(2).map(p => (p(0), p(1))))
        .toSet
      val cands = Dedup.minHashCandidatePairs(df, "doc_id", "text")
        .as[(Long, Long)].collect().toSet
      shingleOk && dupPairs.subsetOf(cands)
    })
  }

  test("salted join equals the plain join for any salt width") {
    val saltGen = Gen.choose(1, 7)
    val rowsGen = Gen.nonEmptyListOf(for {
      k <- Gen.choose(1L, 5L)
      v <- Gen.choose(0, 100)
    } yield (k, v))
    check("saltedJoin", Prop.forAll(rowsGen, saltGen) { (rows, salts) =>
      val big = rows.zipWithIndex
        .map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("k", "v", "row_id")
      val small = Seq((1L, "a"), (2L, "b"), (3L, "c"))
        .toDF("k", "tag")
      val got = graft.operators.Relational
        .saltedJoin(big, small, "k", $"row_id", salts)
        .select($"k", $"v", $"tag").as[(Long, Int, String)]
        .collect().sorted.toSeq
      val expected = big.join(small, Seq("k"))
        .select($"k", $"v", $"tag").as[(Long, Int, String)]
        .collect().sorted.toSeq
      got == expected
    })
  }

  /** `Graphs.ccStar` over `es`, run as longs and as zero-padded strings
    * (so the string minimum is the numeric one), both read back as longs
    * and sorted: the two must agree with each other and with a reference. */
  private def ccStarBothWays(es: Seq[(Long, Long)]): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    def pad(x: Long): String = f"$x%02d"
    val asLongs = Graphs.ccStar(es.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toSeq.sorted
    val asStrings = Graphs.ccStar(
        es.map { case (a, b) => (pad(a), pad(b)) }.toDF("a", "b"), "a", "b")
      .as[(String, String)].collect().toSeq
      .map { case (n, r) => (n.toLong, r.toLong) }.sorted
    (asLongs, asStrings)
  }

  private val edgeGen = Gen.nonEmptyListOf(for {
    a <- Gen.choose(0L, 19L)
    b <- Gen.choose(0L, 19L) if a != b
  } yield (math.min(a, b), math.max(a, b)))

  test("dupClusters equals driver-side union-find on random graphs") {
    // duplicate clusters: the (doc_a < doc_b) candidate-pair shape that
    // DocQueries.dedupClusters labels with ccStar
    check("cc", Prop.forAll(edgeGen) { edges =>
      // reference: path-compressed union-find with min-id roots
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => (n, find(n))).sorted
      val (asLongs, asStrings) = ccStarBothWays(edges)
      asLongs == expected && asStrings == expected
    })
  }

  test("ccStar agrees with min-label CC on random graphs") {
    // self-loops included: a (v, v) pair enters v as an isolated node
    val edgeGen = Gen.choose(1, 20).flatMap(n => Gen.listOfN(n, for {
      a <- Gen.choose(0L, 25L); b <- Gen.choose(0L, 25L)
    } yield (a, b)))
    check("ccstar", Prop.forAll(edgeGen) { es =>
      // reference: driver-side min-label propagation to a fixpoint
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      var label = nodes.map(n => n -> n).toMap
      var changed = true
      while (changed) {
        val next = es.foldLeft(label) { case (l, (a, b)) =>
          val m = math.min(l(a), l(b))
          l.updated(a, m).updated(b, m)
        }
        changed = next != label
        label = next
      }
      val expected = label.toSeq.sorted
      val (asLongs, asStrings) = ccStarBothWays(es)
      asLongs == expected && asStrings == expected
    })
  }

  test("zorderKey equals the bit-interleave reference on random points") {
    val ptGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 65535L)
      b <- Gen.choose(0L, 65535L)
    } yield (a, b))
    check("zorder", Prop.forAll(ptGen) { pts =>
      val got = pts.toDF("a", "b")
        .select(graft.operators.Layout.zorderKey($"a", $"b"))
        .as[Long].collect().toSeq
      val expected = pts.map { case (a, b) =>
        (0 until 16).foldLeft(0L) { (acc, i) =>
          acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
        }
      }
      got == expected
    })
  }

  test("WeightedMeanMicros equals exact rational arithmetic on 4-decimal inputs") {
    graft.functions.WeightedMeanMicros.register(spark)
    // values/weights on the 1e-4 grid — the aggregator's exactness domain
    val rowGen = Gen.nonEmptyListOf(for {
      v <- Gen.choose(0, 500000).map(_ / 10000.0)
      w <- Gen.choose(0, 20000).map(_ / 10000.0)
    } yield (v, w))
    check("wmean", Prop.forAll(rowGen) { rows =>
      val got = rows.toDF("v", "w")
        .agg(call_function("wmean_micros", $"v", $"w"))
        .as[Double].head()
      // reference: exact integer micro-unit arithmetic on the driver
      val sumVW = rows.map { case (v, w) =>
        math.round(v * w * 1e8) }.sum
      val sumW = rows.map { case (_, w) => math.round(w * 1e4) }.sum
      val expected = if (sumW == 0L) 0.0
                     else (sumVW.toDouble / 1e8) / (sumW.toDouble / 1e4)
      got == expected
    })
  }

  test("mixture plan is feasible and tight for random counts/weights") {
    // law checked in pure Scala on the same arithmetic the query uses:
    // n_keep ≤ n_docs, and the binding lang keeps (nearly) everything
    val caseGen = for {
      n <- Gen.choose(2, 6)
      counts <- Gen.listOfN(n, Gen.choose(1L, 100000L))
      raw <- Gen.listOfN(n, Gen.choose(1, 100))
    } yield (counts, raw.map(_.toDouble / raw.sum))
    check("mixture", Prop.forAll(caseGen) { case (counts, weights) =>
      val cap = counts.zip(weights).map { case (c, w) => c / w }.min
      counts.zip(weights).forall { case (c, w) =>
        val keep = math.floor(w * cap)
        keep <= c && keep >= 0
      } && {
        val total = weights.map(w => math.floor(w * cap)).sum
        // realized mixture within 1 doc per lang of the target split
        weights.forall(w => math.abs(math.floor(w * cap) - w * total) <=
          weights.length + 1)
      }
    })
  }

  /** Reference implementation of [[Dedup.substringSpans]] semantics:
    * duplicated k-gram positions (≥2 distinct docs), islands merged at
    * gap ≤ k, spans as inclusive token ranges. */
  private def bruteSpans(docs: List[Vector[String]],
                         k: Int): Set[(Long, Int, Int, Int)] = {
    val grams = docs.zipWithIndex.flatMap { case (toks, d) =>
      toks.sliding(k).zipWithIndex.collect {
        case (g, p) if g.size == k => (d, p, g.mkString(" "))
      }
    }
    val dup = grams.groupBy(_._3)
      .filter { case (_, occ) => occ.map(_._1).distinct.size >= 2 }
      .values.flatten
    dup.groupBy(_._1).flatMap { case (d, occ) =>
      val ps = occ.map(_._2).toList.distinct.sorted
      val runs = ps.foldLeft(List.empty[(Int, Int)]) {
        case ((s, e) :: rest, p) if p - e <= k => (s, p) :: rest
        case (acc, p) => (p, p) :: acc
      }.reverse
      runs.map { case (s, e) =>
        (d.toLong, s, e + k - 1, e + k - 1 - s + 1) }
    }.toSet
  }

  test("substring spans match the brute-force reference on random corpora") {
    val docGen = Gen.choose(4, 15).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.toVector))
    val corpusGen = Gen.choose(2, 5).flatMap(n => Gen.listOfN(n, docGen))
    check("spans", Prop.forAll(corpusGen) { docs =>
      val df = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t.mkString(" ")) }
        .toDF("id", "text")
      val got = Dedup.substringSpans(df, "id", "text", k = 3)
        .as[(Long, Int, Int, Int)].collect().toSet
      got == bruteSpans(docs, 3)
    })
  }

  test("charDiversity invariant under repartitioning (exact-integer rollup)") {
    // random docs over a tiny alphabet so counts collide; the quantized
    // log terms are computed per (doc, char) TYPE, so no partial order
    // can leak into the integer sums
    val docGen = Gen.nonEmptyListOf(for {
      id <- Gen.choose(1L, 8L)
      txt <- Gen.listOf(Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString)
    } yield (id, txt)).map(_.distinctBy(_._1))
    check("chardiv", Prop.forAll(docGen, Gen.choose(1, 6)) { (rows, n) =>
      val df = rows.toDF("doc_id", "text")
      def run(d: org.apache.spark.sql.DataFrame) =
        TextOps.charDiversity(d, "doc_id", "text")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
      run(df) == run(df.repartition(n))
    })
  }

  test("powerIteration invariant under repartitioning (integer recurrence)") {
    val vecGen = Gen.nonEmptyListOf(for {
      id <- Gen.choose(1L, 12L)
      x <- Gen.choose(-10, 10); y <- Gen.choose(-10, 10); z <- Gen.choose(-10, 10)
    } yield (id, Array(x / 10.0f, y / 10.0f, z / 10.0f)))
      .map(_.distinctBy(_._1))
    check("poweriter", Prop.forAll(vecGen, Gen.choose(1, 5)) { (rows, n) =>
      val df = rows.toDF("vec_id", "embedding")
      def run(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Similarity.powerIteration(d, "vec_id", "embedding", 2)
          .as[(Int, Long)].collect().toSet
      run(df) == run(df.repartition(n))
    })
  }
}
