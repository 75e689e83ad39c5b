package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graphs, Relational}

/** Empty-input behavior of the composed operators (the reference
  * divides by zero on an empty directory, SURVEY §2.4 — the engine
  * must instead return empty results everywhere). */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  test("ccStar on an empty pair list converges to an empty labeling") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Graphs.ccStar(empty, "doc_a", "doc_b").count() == 0)
  }

  test("NB classify: empty batch, all-unseen words, zero-token docs") {
    import graft.queries.DocQueries
    import graft.operators.PlanCache
    val train = Seq((0L, "aa aa", "A"), (2L, "bb bb", "B"))
      .toDF("doc_id", "text", "lang")
    val (p, t) = DocQueries.nbModel(train)
    // empty micro-batch: no rows, no ANSI throw anywhere in the chain
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(DocQueries.nbClassify(empty, p, t).count() == 0)
    // all words unseen in training: every class sum is 0, the argmax
    // falls back to priors (equal here) -> alphabetical tie to "A"
    val unseen = Seq((1L, "zz qq")).toDF("doc_id", "text")
    assert(DocQueries.nbClassify(unseen, p, t)
      .as[(Long, String)].collect().toSeq == Seq(1L -> "A"))
    // zero-token docs (empty text) carry no score rows
    val blank = Seq((3L, "")).toDF("doc_id", "text")
    assert(DocQueries.nbClassify(blank, p, t).count() == 0)
    PlanCache.releaseAll()
  }

  test("domain overlap: single domain and short docs produce no pairs") {
    val one = Seq((1L, "s1", "a b c d e f"), (2L, "s1", "a b c x y z"))
      .toDF("doc_id", "source", "text")
    assert(Dedup.domainOverlap(one, "doc_id", "source", "text",
      segTokens = 3).count() == 0)
    // docs below one segment of tokens contribute no segment rows
    val short = Seq((1L, "s1", "a"), (2L, "s2", "a"))
      .toDF("doc_id", "source", "text")
    val out = Dedup.domainOverlap(short, "doc_id", "source", "text",
        segTokens = 3)
      .as[(String, String, Long)].collect().toSet
    // the 1-token doc still forms ONE short segment (ceil division), so
    // the shared segment pairs the two domains
    assert(out == Set(("s1", "s2", 1L)))
    graft.operators.PlanCache.releaseAll()
  }

  test("gram novelty and domain overlap are repartition-invariant") {
    import graft.queries.DocQueries
    val dir = "/root/testdata/sf0.001"
    val a = DocQueries.pipeGramNovelty(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    graft.operators.PlanCache.releaseAll()
    spark.catalog.clearCache()
    val docs2 = graft.sources.Tables.documents(spark, dir).repartition(7)
    val dg = Dedup.domainOverlap(docs2, "doc_id", "source", "text")
      .as[(String, String, Long)].collect().toSet
    val dg32 = Dedup.domainOverlap(
        graft.sources.Tables.documents(spark, dir).repartition(32),
        "doc_id", "source", "text")
      .as[(String, String, Long)].collect().toSet
    assert(dg == dg32 && a.nonEmpty)
    graft.operators.PlanCache.releaseAll()
  }

  test("rel_kll_merge_disk over an empty lineitem returns its oracle's rows") {
    // schema-only lineitem (the fixture's types for the columns the
    // query reads): no shard file is written, and the read-back must not
    // need schema inference
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    Seq.empty[(Long, Long, Long, Int, Double, String)]
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_extendedprice", "l_returnflag")
      .limit(0).write.parquet(s"$dir/lineitem.parquet")
    val out = graft.queries.RelationalQueries.kllMergeDiskQuery(spark, dir)
    // the DuckDB oracle (tools/oracle_check.py) returns no rows here
    assert(out.collect().isEmpty)
    graft.operators.PlanCache.releaseAll()
  }

  test("rel_ks_mannwhitney over an empty lineitem returns its oracle's rows") {
    // schema-only lineitem (the fixture's types for the columns the
    // query reads)
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_ks").toString
    Seq.empty[(Double, String)].toDF("l_quantity", "l_returnflag")
      .limit(0).write.parquet(s"$dir/lineitem.parquet")
    val out = graft.queries.AnalyticsQueries.ksMannWhitney(spark, dir)
    // the DuckDB oracle's GROUP BY na, nb returns no rows here
    assert(out.collect().isEmpty)
  }

  test("rel_fk_audit over empty tables counts 0 orphans, as its oracle does") {
    // schema-only copies of the five tables the audit reads (the
    // fixture's types for the key columns)
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_fk").toString
    def empty(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.limit(0).write.parquet(s"$dir/$name.parquet")
    empty("lineitem", Seq.empty[(Long, Long)].toDF("l_orderkey", "l_partkey"))
    empty("orders", Seq.empty[(Long, Long)].toDF("o_orderkey", "o_custkey"))
    empty("customer", Seq.empty[(Long, Int)].toDF("c_custkey", "c_nationkey"))
    empty("nation", Seq.empty[Int].toDF("n_nationkey"))
    empty("part", Seq.empty[Long].toDF("p_partkey"))
    val out = graft.queries.AnalyticsQueries.fkAudit(spark, dir)
      .select($"n_rows", $"n_orphans").as[(Long, Long)].collect()
    assert(out.toSeq == Seq.fill(4)((0L, 0L)))
  }

  test("bloom semi join with an empty build side returns no rows") {
    val big = (1L to 50L).toDF("k")
    val none = Seq.empty[Long].toDF("sk")
    assert(Relational.bloomSemiJoin(big, none, "k", "sk").count() == 0)
  }

  test("salted join with an empty small side returns no rows") {
    val big = (1L to 50L).map(k => (k, k)).toDF("k", "row_id")
    val none = Seq.empty[(Long, String)].toDF("k", "tag")
    assert(Relational.saltedJoin(big, none, "k", $"row_id", 4).count() == 0)
  }

  test("observe() collects pipeline metrics without a second pass") {
    // the observability hook a production job attaches to its write:
    // row counts / null counts / sums ride along with the action
    // instead of re-scanning the input
    val obs = new org.apache.spark.sql.Observation("gate_metrics")
    val docs = Seq((1L, "a b c", 5L), (2L, "", 0L), (3L, "d e", 3L))
      .toDF("doc_id", "text", "n_chars")
    val out = docs.observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(length($"text") === 0, 1L).otherwise(0L)).as("n_empty"),
        sum($"n_chars").as("total_chars"))
      .filter(length($"text") > 0)
    assert(out.count() == 2)                      // the action
    val m = obs.get                               // metrics of the FULL input
    assert(m("n_rows") == 3L && m("n_empty") == 1L && m("total_chars") == 8L)
  }

  test("forward and backward asof joins keep all left rows when right is empty") {
    val clicks = Seq((1L, 10L, 1L), (2L, 20L, 2L))
      .toDF("user_id", "ts_us", "click_id")
    val none = Seq.empty[(Long, Long, Long)]
      .toDF("user_id", "ts_us", "purchase_id")
    for (fwd <- Seq(false, true)) {
      val out = Relational.asofJoin(clicks, none, Seq("user_id"),
                                    "ts_us", "ts_us", "purchase_id",
                                    forward = fwd)
        .select($"click_id", $"__asof").as[(Long, Option[Long])]
        .collect().toMap
      assert(out == Map(1L -> None, 2L -> None))
    }
  }

  test("clusterByZ and zorderKey handle an empty input") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(empty.select(graft.operators.Layout.zorderKey($"a", $"b"))
      .count() == 0)
    assert(graft.operators.Layout.clusterByZ(empty, $"a", $"b", 4)
      .count() == 0)
  }

  test("pqCodes on an empty corpus yields no codes (and no crash)") {
    val empty = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(graft.operators.Similarity
      .pqCodes(empty, "vec_id", "embedding", "label", 4, 64).count() == 0)
  }

  test("pqCodes rejects an uneven subspace split loudly") {
    val df = Seq((1L, Array(1f, 2f, 3f), 0)).toDF("vec_id", "embedding", "label")
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.pqCodes(df, "vec_id", "embedding", "label",
                                         2, 3)
    }
  }

  test("WeightedMeanMicros over zero rows yields no output rows, not NaN") {
    graft.functions.WeightedMeanMicros.register(spark)
    val out = Seq.empty[(String, Double, Double)].toDF("g", "v", "w")
      .groupBy($"g").agg(call_function("wmean_micros", $"v", $"w"))
    assert(out.count() == 0)
  }
}
