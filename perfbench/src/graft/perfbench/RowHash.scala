package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-independent checksum of a query result: row count plus the
  * wrapping sum of a 64-bit hash per row. Computed over the physical
  * plan's own output (`queryExecution.toRdd`), so hashing a result costs
  * the same execution as `toRdd.count()` plus a per-row fold. Values are
  * hashed by content and type, never by object identity, so a result and
  * its parquet round trip hash alike. */
final case class Checksum(rows: Long, sum: Long) {
  override def toString: String = f"$rows:$sum%016x"
}

object Checksum {
  /** Inverse of `toString`. */
  def parse(s: String): Checksum = {
    val Array(rows, sum) = s.split(":")
    Checksum(rows.toLong, java.lang.Long.parseUnsignedLong(sum, 16))
  }
}

object RowHash {
  def of(df: DataFrame): Checksum = {
    val schema = df.schema
    df.queryExecution.toRdd
      .mapPartitions { it =>
        var n = 0L; var s = 0L
        it.foreach { r => n += 1; s += row(r, schema) }
        Iterator.single((n, s))
      }
      .collect()
      .foldLeft(Checksum(0L, 0L)) { case (c, (n, s)) => Checksum(c.rows + n, c.sum + s) }
  }

  def row(r: InternalRow, schema: StructType): Long = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < schema.length) {
      h = mix(h * 31 + (if (r.isNullAt(i)) 0x5bd1e995L
                        else value(r.get(i, schema(i).dataType), schema(i).dataType)))
      i += 1
    }
    h
  }

  private def value(v: Any, dt: DataType): Long = dt match {
    case s: StructType => row(v.asInstanceOf[InternalRow], s)
    case a: ArrayType => array(v.asInstanceOf[ArrayData], a.elementType)
    case m: MapType =>
      val md = v.asInstanceOf[MapData]
      val (ks, vs) = (md.keyArray(), md.valueArray())
      // entry order is not part of a map's value
      (0 until md.numElements()).foldLeft(0L) { (acc, i) =>
        acc + mix(value(ks.get(i, m.keyType), m.keyType) * 31 +
                  (if (vs.isNullAt(i)) 0L else value(vs.get(i, m.valueType), m.valueType)))
      }
    case BinaryType => java.util.Arrays.hashCode(v.asInstanceOf[Array[Byte]]).toLong
    case DoubleType => java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])
    case FloatType => java.lang.Float.floatToIntBits(v.asInstanceOf[Float]).toLong
    case _: DecimalType => v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros.hashCode.toLong
    case _ => v.hashCode.toLong // UTF8String, boxed primitives: content hashes
  }

  private def array(a: ArrayData, et: DataType): Long = {
    var h = a.numElements().toLong
    var i = 0
    while (i < a.numElements()) {
      h = mix(h * 31 + (if (a.isNullAt(i)) 0x5bd1e995L else value(a.get(i, et), et)))
      i += 1
    }
    h
  }

  /** fmix64 of MurmurHash3. */
  private def mix(x: Long): Long = {
    var k = x
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^ (k >>> 33)
  }
}
