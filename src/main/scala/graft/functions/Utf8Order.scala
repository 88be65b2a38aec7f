package graft.functions

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
