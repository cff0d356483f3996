package graft.sources

import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Reusable output buffer of the row encoders: `encode` fills `buf` from 0
  * and returns the length; the caller writes `buf` — no per-row allocation.
  */
abstract class RowBytes(initial: Int) {
  var buf: Array[Byte] = new Array[Byte](initial)
  protected var pos = 0

  protected final def ensure(n: Int): Unit =
    if (pos + n > buf.length) {
      var cap = buf.length
      while (cap < pos + n) cap <<= 1
      buf = java.util.Arrays.copyOf(buf, cap)
    }
  protected final def putByte(b: Int): Unit = { ensure(1); buf(pos) = b.toByte; pos += 1 }
  protected final def putUtf8(s: UTF8String): Unit = {
    val n = s.numBytes()
    ensure(n)
    s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
    pos += n
  }
  /** ASCII-only text (numbers, fixed tokens). */
  protected final def putAscii(s: String): Unit = {
    ensure(s.length)
    var i = 0
    while (i < s.length) { buf(pos + i) = s.charAt(i).toByte; i += 1 }
    pos += s.length
  }
}

/** Text rules the row encoders share with the `String`-based writers of the
  * object model (the test-scope spec): the encoders work on the row's UTF-8
  * bytes, and these helpers make a byte-level rendering equal the one a
  * `String` round trip gives.
  */
object RowText {

  /** All bytes < 0x80: byte length, byte order and byte equality are then
    * those of the `String`.
    */
  def ascii(s: UTF8String): Boolean = {
    val n = s.numBytes()
    var i = 0
    while (i < n) { if (s.getByte(i) < 0) return false; i += 1 }
    true
  }

  /** The UTF-8 bytes a `String` writer emits for `s`: `s` itself when ASCII,
    * else its `toString` re-encoded, where a malformed sequence has become
    * U+FFFD. Null stays null.
    */
  def text(s: UTF8String): UTF8String =
    if (s == null || ascii(s)) s else UTF8String.fromString(s.toString)

  /** Throws the `IllegalArgumentException` the object-model converters throw
    * for the first null value of `m`, in entry order.
    */
  def requireValues(m: MapData, before: String, after: String): Unit = {
    val vs = m.valueArray()
    var i = 0
    while (i < m.numElements()) {
      if (vs.isNullAt(i))
        throw new IllegalArgumentException(before + m.keyArray().getUTF8String(i) + after)
      i += 1
    }
  }
}

/** The entry order of a `Map[String, String]` built from a map column and
  * sorted by key: duplicate keys (equal as `String`s) keep their last value,
  * and keys sort in `String` (UTF-16) order. All-ASCII keys sort by bytes,
  * which is the same order; other keys go through their `String`s. Reused
  * per encoder, and each key is read from the map once.
  */
final class SortedKeys {
  /** Entry indices of the surviving keys in key order; the first `sort`
    * result slots are valid.
    */
  var order: Array[Int] = new Array[Int](16)
  private var keys: Array[UTF8String] = new Array[UTF8String](16)
  private var strs: Array[String] = _

  /** The key of entry `e` of the map last sorted. */
  def key(e: Int): UTF8String = keys(e)

  def sort(map: ArrayData, n: Int): Int = {
    if (order.length < n) {
      order = new Array[Int](math.max(n, order.length * 2))
      keys = new Array[UTF8String](order.length)
    }
    val allAscii = fetch(map, n)
    var i = 0
    if (!allAscii) {
      if (strs == null || strs.length < n) strs = new Array[String](math.max(n, 16))
      while (i < n) { strs(i) = keys(i).toString; i += 1 }
    }
    def cmp(a: Int, b: Int): Int =
      if (allAscii) keys(a).binaryCompare(keys(b)) else strs(a).compareTo(strs(b))
    // stable insertion sort over entry indices
    i = 0
    while (i < n) { order(i) = i; i += 1 }
    i = 1
    while (i < n) {
      val v = order(i)
      var j = i - 1
      while (j >= 0 && cmp(order(j), v) > 0) { order(j + 1) = order(j); j -= 1 }
      order(j + 1) = v
      i += 1
    }
    // one slot per run of equal keys: the entry latest in map order
    var out = 0
    i = 0
    while (i < n) {
      var best = order(i)
      var j = i + 1
      while (j < n && cmp(order(j), order(i)) == 0) { if (order(j) > best) best = order(j); j += 1 }
      order(out) = best
      out += 1
      i = j
    }
    if (!allAscii) java.util.Arrays.fill(strs.asInstanceOf[Array[AnyRef]], 0, n, null)
    out
  }

  /** Reads the `n` keys into `keys`; true when all are ASCII. */
  private def fetch(map: ArrayData, n: Int): Boolean = {
    var allAscii = true
    var i = 0
    while (i < n) {
      keys(i) = map.getUTF8String(i)
      if (allAscii && !RowText.ascii(keys(i))) allAscii = false
      i += 1
    }
    allAscii
  }
}
