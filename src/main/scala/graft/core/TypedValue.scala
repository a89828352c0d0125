package graft.core

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** String⇄typed-value codec + ordering for dimension/attribute values as
  * they appear in manifests (bounds, MBRs, fill values) and pushdown
  * constants. The storage-level value domain is deliberately small —
  * integral types normalize to Long, floating to Double, plus String /
  * Boolean / Binary — mirroring the reference's buffer-level view where
  * datetimes are int64 unit counts [mytile.cc:475–548].
  */
object TypedValue {

  /** Normalize a Spark-typed constant to the storage domain. */
  def normalize(dt: DataType, v: Any): Any = (dt, v) match {
    case (_, null) => null
    case (ByteType | ShortType | IntegerType | LongType, n: Number) => n.longValue()
    case (DateType, n: Number) => n.longValue() // days
    case (DateType, d: java.sql.Date) => d.toLocalDate.toEpochDay
    case (DateType, d: java.time.LocalDate) => d.toEpochDay
    case (TimestampType, n: Number) => n.longValue() // micros
    case (TimestampType, t: java.sql.Timestamp) =>
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000
    case (TimestampType, i: java.time.Instant) =>
      i.getEpochSecond * 1000000L + i.getNano / 1000
    case (FloatType | DoubleType, n: Number) => n.doubleValue()
    case (StringType, s) => s.toString
    case (BooleanType, b: Boolean) => b
    case (BinaryType, b: Array[Byte]) => b
    case (_, other) => other
  }

  /** Parse the manifest string encoding back to the storage domain. */
  def parse(dt: DataType, s: String): Any = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType => s.toLong
    case _: DecimalType => s.toLong // unscaled (scale is fixed per column)
    case FloatType | DoubleType => s.toDouble
    case BooleanType => s.toBoolean
    case BinaryType => java.util.Base64.getDecoder.decode(s)
    case _ => s
  }

  /** Storage-domain value → Catalyst value of type `dt`, for every
    * reader: decoded cells and manifest values (fills, aggregate
    * results) alike. Integral values narrow from Long, DATE from epoch
    * days and FLOAT from Double; a manifest decimal is its unscaled
    * Long at the column's scale (see [[parse]] and [[show]]). Decoded
    * decimals, bytes, arrays and Long/Double/Boolean cells of their own
    * width pass through. */
  def toCatalyst(dt: DataType, v: Any): Any = (dt, v) match {
    case (_, null) => null
    case (ByteType, l: Long) => l.toByte
    case (ShortType, l: Long) => l.toShort
    case (IntegerType | DateType, l: Long) => l.toInt
    case (FloatType, d: Double) => d.toFloat
    case (StringType, s: String) => UTF8String.fromString(s)
    case (d: DecimalType, l: Long) => Decimal(l, d.precision, d.scale)
    case (_, other) => other
  }

  /** Manifest string encoding. */
  def show(v: Any): String = v match {
    case null => null
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case other => other.toString
  }

  /** Code-point (≡ unsigned UTF-8 byte) string comparison. Spark's
    * UTF8String and parquet footer stats both order strings by unsigned
    * UTF-8 bytes; Java's String.compareTo orders by UTF-16 code units,
    * which disagrees for supplementary (non-BMP) characters vs
    * U+E000–U+FFFF. Pruning/agg decisions must use the engine's order.
    * Allocation-free: code-point order equals UTF-8 byte order for all
    * valid Unicode strings. */
  def utf8Compare(x: String, y: String): Int = {
    var i = 0; var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i); val cy = y.codePointAt(j)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx); j += Character.charCount(cy)
    }
    Integer.compare(x.length - i, y.length - j)
  }

  /** Total order over the storage domain (same-type comparisons only). */
  val ordering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: Long, y: Double) => java.lang.Double.compare(x.toDouble, y)
      case (x: Double, y: Long) => java.lang.Double.compare(x, y.toDouble)
      case (x: String, y: String) => utf8Compare(x, y)
      case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
      case (x: Array[Byte], y: Array[Byte]) =>
        java.util.Arrays.compareUnsigned(x, y) // parquet's binary order
      case _ => throw new IllegalArgumentException(
        s"incomparable: ${a.getClass} vs ${b.getClass}")
    }
  }

  /** Is `dt` an integral storage type (successor/predecessor defined)?
    * Drives the reference's GT→GE(+1)/LT→LE(−1) conversion
    * [mytile-range.h:607–643]. */
  def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType => true
    case _ => false
  }
}
