package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import graft.SparkEntry

/** Dev-only: print the formatted physical plan of selected queries.
  * Usage: runMain graft.tools.Explain <sfDir> [--exec] <queryName> [queryName...]
  *
  * `--exec` runs each query first, so the printed plan is AQE's FINAL
  * adaptive plan (runtime join-strategy conversions, coalesced reads)
  * rather than the static initial plan, and adds the per-operator
  * runtime metrics (rows, shuffle bytes, spills) — the observability
  * loop for spill- and shuffle-aware tuning. A query that throws prints
  * its error instead of the metrics. */
object Explain {
  private val Interesting = Set("numOutputRows", "dataSize", "spillSize",
                                "shuffleBytesWritten", "recordsRead",
                                "numFiles", "peakMemory")

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => finalPlan(a.executedPlan)
    case q: QueryStageExec => finalPlan(q.plan)
    case other => other
  }

  /** One line per operator of the executed plan, indented by depth, with
    * its non-zero metrics of interest. */
  private def metricLines(p: SparkPlan, depth: Int = 0): Seq[String] = {
    val ms = p.metrics.collect { case (k, v) if Interesting(k) && v.value > 0 =>
      s"$k=${v.value}" }.mkString(" ")
    val line = ("  " * depth) + p.nodeName + (if (ms.nonEmpty) s"  [$ms]" else "")
    // reused/united subqueries are followed lightly via innerChildren
    val kids = p.children ++ p.innerChildren.collect { case sp: SparkPlan => sp }
    line +: kids.flatMap(c => metricLines(finalPlan(c), depth + 1))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.tuned(
        SparkSession.builder().master("local[8]"), 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val exec = args.contains("--exec")
    val names0 = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq
    val names = names0.filterNot(_ == "--exec")
    names.foreach { n =>
      println(s"\n########## $n ##########")
      val df = SparkEntry.queries(n)(spark, dir)
      if (exec) graft.Bench.timeRun(df.queryExecution.toRdd.count()) match {
        case Right(sec) =>
          println(f"########## metrics: $n ($sec%.2f s) ##########")
          metricLines(finalPlan(df.queryExecution.executedPlan)).foreach(println)
        case Left(err) => println(s"########## FAILED: $n: $err ##########")
      }
      df.explain("formatted")
    }
    spark.stop()
  }
}
