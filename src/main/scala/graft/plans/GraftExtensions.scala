package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BloomFunctions, MinHashSigs, ShingleGen, SimHash16, VectorFunctions}

/** `SparkSessionExtensions` injection point for the engine's native
  * functions and its one plan node — enable with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * on a cluster (every `GraftSession` sets it), or call
  * `VectorFunctions.register(spark)` in-process for the functions alone.
  * Two kinds of injection: the functions, and one planner strategy,
  * [[RasterPixelsStrategy]], which plans the decoded pixel frame
  * ([[RasterPixels]]) as a columnar operator. There is no optimizer rule:
  * Catalyst's stock pipeline covers the rest of the reference's physical
  * design (SURVEY §4).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private val textBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash16" -> (es => SimHash16(es.head)),
    // minhash_sigs(shingles, k) with a literal int k
    "minhash_sigs" -> (es => MinHashSigs(es.head,
      es(1).eval(null).asInstanceOf[Number].intValue())),
    // shingle_gen(text, n) — UDTF (Generator) with a literal int n
    "shingle_gen" -> (es => ShingleGen(es.head,
      es(1).eval(null).asInstanceOf[Number].intValue())),
  )

  override def apply(ext: SparkSessionExtensions): Unit = {
    (VectorFunctions.all ++ BloomFunctions.all ++ textBuilders)
      .foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        (es: Seq[Expression]) => builder(es)))
    }
    ext.injectPlannerStrategy(_ => RasterPixelsStrategy)
  }
}
