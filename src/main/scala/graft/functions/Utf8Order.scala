package graft.functions

import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType}

/** Spark's string order: UTF-8 byte order, which is code point order.
  * String.compareTo orders by UTF-16 unit and puts supplementary
  * characters (surrogates D800-DFFF) below U+E000-U+FFFF.
  */
object Utf8Order extends Ordering[String] {
  private def codePointRank(c: Char): Int =
    if (c < 0xd800) c else if (c < 0xe000) c + 0x2000 else c - 0x800
  def compare(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val (x, y) = (a.charAt(i), b.charAt(i))
      if (x != y) return codePointRank(x) - codePointRank(y)
      i += 1
    }
    a.length - b.length
  }
}

/** Spark's order for an id type, on the values a Row holds: the order of
  * `least`/`min` over the column. Driver code that must pick the same id
  * as a Spark plan compares with this; types other than strings and
  * integral numbers are rejected rather than guessed.
  */
object SparkOrder {
  def apply(t: DataType): Ordering[Any] = t match {
    case StringType => Utf8Order.on[Any](_.asInstanceOf[String])
    case ByteType | ShortType | IntegerType | LongType =>
      Ordering.Long.on[Any](_.asInstanceOf[Number].longValue)
    case other => throw new IllegalArgumentException(
      s"ids must be a string or an integral type, got ${other.simpleString}")
  }
}
