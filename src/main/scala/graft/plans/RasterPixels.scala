package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
import org.apache.spark.sql.types.{DataType, FloatType, IntegerType, StringType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Raster

/** The decoded pixel frame `(file, band, y, x, value)` of
  * [[Raster.decodePixels]] over `child = (path, content)` blobs. Its own
  * node, so that a consumer needing whole band planes
  * ([[Raster.writeCompositeTiff]]) can run `child` itself instead of
  * reading pixel rows back into planes. A relation for the analyzer's
  * self-join deduplication: `newInstance` renews the produced attributes. */
case class RasterPixels(output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode with MultiInstanceRelation {
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
  override protected def withNewChildInternal(c: LogicalPlan): RasterPixels = copy(child = c)
}

/** Decodes each `(path, content)` row inside its task and hands Spark one
  * `ColumnarBatch` per band plane, band ascending, pixels row-major:
  * `file` and `band` constant, `y = p / w`, `x = p % w`, `value` the
  * decoded plane itself. Row consumers read it through Spark's
  * `ColumnarToRowExec`. (Spark puts a `RowToColumnar` above any row child
  * of a columnar operator; its row output is its child's, read here.) */
case class RasterPixelsExec(output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  override def supportsColumnar: Boolean = true
  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException("RasterPixelsExec is columnar")

  override protected def doExecuteColumnar(): RDD[ColumnarBatch] =
    child.execute().mapPartitions(_.flatMap { r =>
      val file = Option(r.getUTF8String(0)).map(_.clone()).orNull
      Raster.decodeAny(r.getBinary(1)).iterator.flatMap { case (w, _, planes) =>
        planes.iterator.zipWithIndex.map { case (plane, i) =>
          RasterPixelsExec.batch(file, i + 1, w, plane)
        }
      }
    })

  override protected def withNewChildInternal(c: SparkPlan): RasterPixelsExec = copy(child = c)
}

object RasterPixelsExec {
  private def batch(file: UTF8String, band: Int, w: Int, plane: Array[Float]): ColumnarBatch = {
    val f = new ConstantColumnVector(plane.length, StringType)
    if (file == null) f.setNull() else f.setUtf8String(file)
    val b = new ConstantColumnVector(plane.length, IntegerType)
    b.setInt(band)
    new ColumnarBatch(Array(f, b,
      new PlaneVector(IntegerType) { override def getInt(p: Int): Int = p / w },
      new PlaneVector(IntegerType) { override def getInt(p: Int): Int = p % w },
      new PlaneVector(FloatType) { override def getFloat(p: Int): Float = plane(p) }),
      plane.length)
  }

  /** A read-only, null-free column computed from the pixel index. */
  private abstract class PlaneVector(t: DataType) extends ColumnVector(t) {
    private def no = throw new UnsupportedOperationException(t.toString)
    override def close(): Unit = ()
    override def hasNull: Boolean = false
    override def numNulls: Int = 0
    override def isNullAt(p: Int): Boolean = false
    override def getBoolean(p: Int): Boolean = no
    override def getByte(p: Int): Byte = no
    override def getShort(p: Int): Short = no
    override def getInt(p: Int): Int = no
    override def getLong(p: Int): Long = no
    override def getFloat(p: Int): Float = no
    override def getDouble(p: Int): Double = no
    override def getArray(p: Int) = no
    override def getMap(p: Int) = no
    override def getDecimal(p: Int, precision: Int, scale: Int) = no
    override def getUTF8String(p: Int) = no
    override def getBinary(p: Int) = no
    override def getChild(i: Int) = no
  }
}

/** Plans [[RasterPixels]] as [[RasterPixelsExec]]. */
object RasterPixelsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RasterPixels(output, child) => RasterPixelsExec(output, planLater(child)) :: Nil
    case _ => Nil
  }
}
