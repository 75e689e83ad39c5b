package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression,
  JoinedRow, Literal, MutableProjection, Predicate, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, Partial}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec

import graft.sources.Raster

/** The partial (map-side) half of an aggregate keyed by a pixel frame's
  * `file` and/or `band`, folded over each decoded band plane with no pixel
  * rows: the reference's per-`GDALRasterIO` band fold
  * (`band_mean_computation.cpp:11-50`) inside Spark's own aggregate.
  * It replaces `HashAggregateExec(Partial) → [attribute-only Project] →
  * [deterministic Filter] → RasterPixelsExec` and reads that operator's
  * `(path, content)` child itself ([[Raster.decodeBlobs]]).
  *
  * Per task it compiles, once, the filter `condition`, the functions'
  * `initialValues` and `updateExpressions` (bound to the aggregation buffer
  * followed by `pixels`) and the key projection. Per plane it sets `file`
  * and `band` once, then loops over the pixels on one reused row, setting
  * `value` and, only where an expression reads them, `y` and `x`. Each key
  * keeps one buffer for the whole task, as the hash aggregate's map does,
  * and a key no pixel passed the filter for has no buffer; at the end of
  * the input every buffer is emitted as `key ++ buffer`, the partial
  * aggregate's `output`. The fold runs in the pixel frame's row order on
  * the planned expressions themselves, so every result (double sums
  * included) and every ANSI error is the stock aggregate's.
  *
  * @param pixels `RasterPixelsExec`'s output, `(file, band, y, x, value)`
  * @param grouping the partial aggregate's keys, each `file` or `band`
  * @param output the partial aggregate's output: `grouping` then the
  *               functions' buffer attributes
  */
case class RasterPlaneAggregateExec(
    pixels: Seq[Attribute],
    condition: Expression,
    grouping: Seq[Attribute],
    functions: Seq[DeclarativeAggregate],
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(pixels ++ output)

  override protected def doExecute(): RDD[InternalRow] = {
    val (pixels, condition, grouping) = (this.pixels, this.condition, this.grouping)
    val buffer = functions.flatMap(_.aggBufferAttributes)
    val initial = functions.flatMap(_.initialValues)
    val updates = functions.flatMap(_.updateExpressions)
    val reads = AttributeSet(condition +: updates)
    val (readY, readX) = (reads.contains(pixels(2)), reads.contains(pixels(3)))
    val types = (grouping ++ buffer).map(_.dataType).toArray
    child.execute().mapPartitionsWithIndex { (partition, rows) =>
      val pass = Predicate.create(condition, pixels)
      val update = MutableProjection.create(updates, buffer ++ pixels)
      val key = UnsafeProjection.create(grouping, pixels)
      val emit = UnsafeProjection.create(types)
      pass.initialize(partition)
      update.initialize(partition)
      val fresh = UnsafeProjection.create(initial)(InternalRow.empty).copy()
      val groups = mutable.LinkedHashMap.empty[UnsafeRow, UnsafeRow]
      val px = new SpecificInternalRow(pixels.map(_.dataType))
      val in = new JoinedRow
      Raster.decodeBlobs(rows).foreach { case (file, w, _, planes) =>
        px.update(0, file)
        for (b <- planes.indices) {
          val plane = planes(b)
          px.setInt(1, b + 1)
          var folding = false
          var (p, y, x) = (0, 0, 0)
          while (p < plane.length) {
            px.setFloat(4, plane(p))
            if (readY) px.setInt(2, y)
            if (readX) px.setInt(3, x)
            if (pass.eval(px)) {
              if (!folding) {
                val acc = groups.getOrElseUpdate(key(px).copy(), fresh.copy())
                update.target(acc)
                in.withLeft(acc).withRight(px)
                folding = true
              }
              update(in)
            }
            p += 1
            x += 1
            if (x == w) { x = 0; y += 1 }
          }
        }
      }
      groups.iterator.map { case (k, acc) => emit(in(k, acc)) }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): RasterPlaneAggregateExec =
    copy(child = c)
}

/** Plans [[RasterPlaneAggregateExec]] in place of a partial
  * `HashAggregateExec` over a pixel frame, when all of these hold: every
  * aggregate expression is `Partial`, not distinct, without a `FILTER`
  * clause, over a `DeclarativeAggregate`; the keys are non-empty and each
  * is the frame's `file` or `band` attribute; below the aggregate lie an
  * optional attribute-only `ProjectExec`, an optional deterministic
  * `FilterExec`, then `RasterPixelsExec`. Anything else is left as it is.
  * A columnar rule's `preColumnarTransitions`, so it runs before
  * `ColumnarToRow` is inserted and before codegen collapse: once per query
  * stage under AQE, once per plan without it. */
object RasterPlaneAggregate extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case agg: HashAggregateExec if agg.aggregateExpressions.forall(e =>
        e.mode == Partial && !e.isDistinct && e.filter.isEmpty &&
          e.aggregateFunction.isInstanceOf[DeclarativeAggregate]) =>
      source(agg.child) match {
        case Some((condition, px)) if agg.groupingExpressions.nonEmpty &&
            agg.groupingExpressions.forall(k => px.output.take(2).exists(_.semanticEquals(k))) =>
          RasterPlaneAggregateExec(px.output, condition,
            agg.groupingExpressions.map(_.toAttribute),
            agg.aggregateExpressions.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate]),
            agg.output, px.child)
        case _ => agg
      }
  }

  /** The filter condition (true when there is none) and the pixel operator
    * under an aggregate, when its child has the matched shape. */
  private def source(plan: SparkPlan): Option[(Expression, RasterPixelsExec)] = plan match {
    case ProjectExec(list, c) if list.forall(_.isInstanceOf[Attribute]) => filtered(c)
    case c => filtered(c)
  }

  private def filtered(plan: SparkPlan): Option[(Expression, RasterPixelsExec)] = plan match {
    case FilterExec(condition, px: RasterPixelsExec) if condition.deterministic =>
      Some((condition, px))
    case px: RasterPixelsExec => Some((Literal.TrueLiteral, px))
    case _ => None
  }
}
