package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{PlanCache, UnigramLM}
import graft.sources.Tables

/** Dev-only phase profiler for text_unigram_encode (VERDICT r15 #4):
  * times the word-frequency build, the seed collect, each hard-EM
  * round's collect, and the final encode join separately, so the
  * batched-Viterbi decision targets the real cost. Not part of the
  * driver contract. */
object UnigramProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.tuned(
        SparkSession.builder().master("local[32]"), 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      System.err.println(
        f"[uniprof] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val docs = Tables.documents(spark, dir)
    for (i <- 1 to 3) {
      PlanCache.releaseAll()
      val wf = PlanCache.reuse(UnigramLM.wordFreq(docs, "text"))
      val maxW = t(s"run$i wordFreq+effMaxWord")(UnigramLM.effMaxWord(wf))
      def collect2(d: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
        d.collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
      var vocab = t(s"run$i seed-collect")(
        UnigramLM.lpMap(collect2(UnigramLM.seedFreq(wf, maxW))))
      for (r <- 1 to UnigramLM.Rounds)
        vocab = t(s"run$i em-round$r-collect")(
          UnigramLM.lpMap(collect2(
            UnigramLM.viterbiCounts(wf, vocab, maxW))))
      val npc = (1 to maxW)
        .map(k => when(col(s"p$k").isNotNull, 1L).otherwise(0L))
        .reduce(_ + _)
      val np = UnigramLM.viterbiPaths(wf, vocab, maxW)
        .select(col("word"), npc.cast("long").as("np"))
      val tok = Tables.spread(docs)
        .select(col("doc_id"),
                explode(graft.operators.TextOps.tokenize(col("text")))
                  .as("word"))
      t(s"run$i encode-join")(
        tok.join(np, Seq("word")).groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"))
          .queryExecution.toRdd.count())
    }
    spark.stop()
  }
}
