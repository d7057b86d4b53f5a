package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, XXH64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Order-independent result checksum: every column of every row is read
  * and hashed, the row hashes are summed modulo 2^64. The sum makes the
  * checksum independent of row order and partitioning while still
  * counting duplicate rows. Doubles are compared at float precision, so
  * a different summation order inside an aggregate does not change the
  * checksum. */
object RowHash {
  private final val M = 0x9E3779B97F4A7C15L
  private final val NullTag = 0x5BD1E995L

  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def row(r: SpecializedGetters, types: Array[DataType]): Long = {
    var h = 17L
    var i = 0
    while (i < types.length) { h = h * M + field(r, i, types(i)); i += 1 }
    mix(h)
  }

  private def str(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)

  private def bytes(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)

  private def dbl(d: Double): Long = {
    val f = d.toFloat
    if (f == 0f) 0L else if (f.isNaN) 0x7FC00000L else java.lang.Float.floatToIntBits(f).toLong
  }

  def field(r: SpecializedGetters, i: Int, t: DataType): Long =
    if (r.isNullAt(i)) NullTag else t match {
      case BooleanType => if (r.getBoolean(i)) 1L else 2L
      case ByteType => r.getByte(i).toLong
      case ShortType => r.getShort(i).toLong
      case IntegerType | DateType | _: YearMonthIntervalType => r.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType => r.getLong(i)
      case FloatType => dbl(r.getFloat(i).toDouble)
      case DoubleType => dbl(r.getDouble(i))
      case _: StringType => str(r.getUTF8String(i))
      case BinaryType => bytes(r.getBinary(i))
      case d: DecimalType =>
        str(UTF8String.fromString(r.getDecimal(i, d.precision, d.scale)
          .toJavaBigDecimal.stripTrailingZeros.toPlainString))
      case ArrayType(et, _) =>
        val a = r.getArray(i)
        var h = a.numElements().toLong
        var j = 0
        while (j < a.numElements()) { h = h * M + field(a, j, et); j += 1 }
        mix(h)
      case st: StructType => row(r.getStruct(i, st.size), st.fields.map(_.dataType))
      case MapType(kt, vt, _) =>
        val m = r.getMap(i)
        var h = 0L
        var j = 0
        while (j < m.numElements()) {
          h += mix(field(m.keyArray(), j, kt) * M + field(m.valueArray(), j, vt)); j += 1
        }
        h
      case other => str(UTF8String.fromString(String.valueOf(r.get(i, other))))
    }

  /** Row count and checksum of a result, computed by executing the
    * DataFrame's own physical plan: this is the full materialization. */
  def materialize(df: DataFrame): (Long, Long) = {
    val types = df.schema.fields.map(_.dataType)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var s = 0L
      while (it.hasNext) { s += row(it.next(), types); n += 1 }
      Iterator.single((n, s))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def hex(c: Long): String = f"$c%016x"
}
