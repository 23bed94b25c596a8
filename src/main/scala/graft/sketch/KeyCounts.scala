package graft.sketch

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Exact key counts of one group: the buffer of `key_counts(key)`, which
  * the drift checks aggregate per part and once over the reference.
  *
  * Keys are stored in one of two encodings, chosen by the key type
  * ([[KeyCounts.encoder]]), each ordered exactly as Spark orders the
  * type:
  *  - long keys (boolean, integral, date, timestamp, float, double and
  *    decimals of precision ≤ 18) in a primitive open-addressing
  *    long → long map, compared as signed longs;
  *  - byte-string keys (string, binary and wider decimals) in a hash map
  *    keyed by `UTF8String`, compared as unsigned bytes.
  * Floating keys are normalized the way Spark normalizes grouping keys
  * (−0.0 → 0.0, one NaN), so equal keys are equal bit patterns.
  *
  * Memory: the buffer is exact, so it holds one entry per distinct key
  * of its group. It is the right tool when the key space is bounded
  * (token vocabularies, bins, categories); [[FreqSketch]] is the
  * bounded-memory alternative when it is not.
  */
final class KeyCounts(val byteKeys: Boolean) {
  // long keys: linear probing over (key, count) pairs interleaved in one
  // array, so a probe touches one cache line; a slot is free iff its
  // count is 0, since every stored key has a positive count
  private var table = new Array[Long](32)
  private var longSize = 0
  // byte-string keys: the map owns a copy of every key it stores
  private val strings = new java.util.HashMap[UTF8String, Array[Long]]()
  private var totalVar = 0L

  /** Sum of all counts: the number of non-NULL keys seen. */
  def total: Long = totalVar
  def size: Int = if (byteKeys) strings.size else longSize

  private def slots: Int = table.length >> 1

  // the low bits of a full 64-bit mix: one table's slot order never lines
  // up with another's, so copying a table in slot order (merge,
  // deserialize) does not pile keys into one probe run
  private def slot(k: Long): Int = {
    var h = k * 0x9E3779B97F4A7C15L
    h ^= h >>> 32
    h *= 0xC4CEB9FE1A85EC53L
    (h ^ (h >>> 29)).toInt & (slots - 1)
  }

  /** Index in `table` of `k`'s pair, or of the free slot it would take. */
  private def find(k: Long): Int = {
    var i = slot(k) << 1
    while (table(i + 1) != 0 && table(i) != k) i = (i + 2) & (table.length - 1)
    i
  }

  def add(k: Long, c: Long): Unit = {
    if (2 * (longSize + 1) > slots) reserve(longSize + 1)
    val i = find(k)
    if (table(i + 1) == 0) { table(i) = k; longSize += 1 }
    table(i + 1) += c
    totalVar += c
  }

  def add(k: UTF8String, c: Long): Unit = {
    val cell = strings.get(k)
    if (cell == null) strings.put(k.copy(), Array(c)) else cell(0) += c
    totalVar += c
  }

  /** Calls `f(key, count)` for every long key, in table order. */
  private def foreachLong(f: (Long, Long) => Unit): Unit = {
    var i = 0
    while (i < table.length) {
      if (table(i + 1) != 0) f(table(i), table(i + 1))
      i += 2
    }
  }

  /** Grows the long table to hold `n` keys at load ≤ 1/2. */
  private[sketch] def reserve(n: Int): Unit = if (2 * n > slots) {
    val old = this.table
    table = new Array[Long](2 * (Integer.highestOneBit(math.max(2 * n - 1, 8)) << 1))
    longSize = 0
    totalVar = 0L
    var i = 0
    while (i < old.length) {
      if (old(i + 1) != 0) add(old(i), old(i + 1))
      i += 2
    }
  }

  def merge(other: KeyCounts): KeyCounts = {
    require(byteKeys == other.byteKeys, "key_counts buffers of different key encodings")
    if (byteKeys) other.strings.forEach((k, c) => add(k, c(0)))
    else {
      reserve(longSize + other.longSize)
      other.foreachLong(add)
    }
    this
  }

  /** Blob layout: magic, flags (bit 0 byte-string keys, bit 1 sorted),
    * total, entry count, then per entry the key (zigzag varint, or varint
    * length + bytes) and its count (varint). */
  def serialize(sorted: Boolean): Array[Byte] = {
    val out = new KeyCounts.Out(16 + 4 * size)
    out.int(KeyCounts.Magic)
    out.byte((if (byteKeys) 1 else 0) | (if (sorted) 2 else 0))
    out.varLong(totalVar)
    out.varLong(size)
    if (byteKeys) {
      val ks = strings.keySet.toArray(new Array[UTF8String](0))
      if (sorted) java.util.Arrays.sort(ks, (a: UTF8String, b: UTF8String) => a.binaryCompare(b))
      ks.foreach { k => out.bytes(k.getBytes); out.varLong(strings.get(k)(0)) }
    } else if (sorted) {
      val ks = new Array[Long](longSize)
      var n = 0
      foreachLong { (k, _) => ks(n) = k; n += 1 }
      java.util.Arrays.sort(ks)
      ks.foreach { k => out.zigzag(k); out.varLong(table(find(k) + 1)) }
    } else foreachLong { (k, c) => out.zigzag(k); out.varLong(c) }
    out.result()
  }
}

/** A `key_counts` result decoded for scoring: keys in ascending order
  * (Spark's ordering of the key type) with their counts. */
final class SortedKeyCounts(
    val longKeys: Array[Long], val stringKeys: Array[UTF8String],
    val counts: Array[Long], val total: Long) {

  def size: Int = counts.length

  /** Calls `f(o, r)` once per key of the union of this and `that`, in
    * ascending key order; `o` and `r` are the key's counts on each side
    * (0 where the key is absent). */
  def foreachUnion(that: SortedKeyCounts)(f: (Long, Long) => Unit): Unit = {
    require((stringKeys == null) == (that.stringKeys == null),
      "key_counts blobs of different key encodings")
    var i = 0
    var j = 0
    while (i < size || j < that.size) {
      val c =
        if (i == size) 1
        else if (j == that.size) -1
        else if (stringKeys == null) java.lang.Long.compare(longKeys(i), that.longKeys(j))
        else stringKeys(i).binaryCompare(that.stringKeys(j))
      if (c < 0) { f(counts(i), 0L); i += 1 }
      else if (c > 0) { f(0L, that.counts(j)); j += 1 }
      else { f(counts(i), that.counts(j)); i += 1; j += 1 }
    }
  }
}

object KeyCounts {
  /** "KYC1" — format tag + version. */
  private val Magic = 0x4B594331

  /** How keys of one type enter the buffer. */
  sealed trait Encoder {
    def byteKeys: Boolean
    def add(buffer: KeyCounts, key: Any): Unit
  }
  private abstract class LongEncoder extends Encoder {
    def byteKeys = false
    def key(v: Any): Long
    def add(buffer: KeyCounts, v: Any): Unit = buffer.add(key(v), 1L)
  }
  private abstract class StringEncoder extends Encoder {
    def byteKeys = true
    def key(v: Any): UTF8String
    def add(buffer: KeyCounts, v: Any): Unit = buffer.add(key(v), 1L)
  }

  /** The encoding of `dt`'s keys, or None when the type has none. Each
    * preserves Spark's equality and ordering of the type: signed order
    * of the long, unsigned byte order of the byte string. */
  def encoder(dt: DataType): Option[Encoder] = dt match {
    case BooleanType => Some(new LongEncoder {
      def key(v: Any) = if (v.asInstanceOf[Boolean]) 1L else 0L })
    case ByteType => Some(new LongEncoder { def key(v: Any) = v.asInstanceOf[Byte].toLong })
    case ShortType => Some(new LongEncoder { def key(v: Any) = v.asInstanceOf[Short].toLong })
    case IntegerType | DateType => Some(new LongEncoder {
      def key(v: Any) = v.asInstanceOf[Int].toLong })
    case LongType | TimestampType | TimestampNTZType => Some(new LongEncoder {
      def key(v: Any) = v.asInstanceOf[Long] })
    case FloatType => Some(new LongEncoder {
      def key(v: Any) = {
        val f = v.asInstanceOf[Float]
        val bits = java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
        (bits ^ ((bits >> 31) & Int.MaxValue)).toLong
      }
    })
    case DoubleType => Some(new LongEncoder {
      def key(v: Any) = {
        val d = v.asInstanceOf[Double]
        val bits = java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
        bits ^ ((bits >> 63) & Long.MaxValue)
      }
    })
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS => Some(new LongEncoder {
      def key(v: Any) = v.asInstanceOf[Decimal].toUnscaledLong })
    case d: DecimalType => Some(new StringEncoder {
      // the unscaled value as 16-byte two's complement with the sign bit
      // flipped: unsigned byte order is numeric order
      def key(v: Any) = {
        val u = v.asInstanceOf[Decimal].toJavaBigDecimal.setScale(d.scale).unscaledValue
        val raw = u.toByteArray
        val b = Array.fill[Byte](16)(if (u.signum < 0) -1 else 0)
        System.arraycopy(raw, 0, b, 16 - raw.length, raw.length)
        b(0) = (b(0) ^ 0x80).toByte
        UTF8String.fromBytes(b)
      }
    })
    case s: StringType if s.collationId == StringType.collationId => Some(new StringEncoder {
      def key(v: Any) = v.asInstanceOf[UTF8String] })
    case BinaryType => Some(new StringEncoder {
      def key(v: Any) = UTF8String.fromBytes(v.asInstanceOf[Array[Byte]]) })
    case _ => None
  }

  def deserialize(bytes: Array[Byte]): KeyCounts = {
    val in = new In(bytes)
    val buffer = new KeyCounts(in.byteKeys)
    if (!in.byteKeys) buffer.reserve(in.entries)
    var i = 0
    while (i < in.entries) {
      if (in.byteKeys) buffer.add(in.string(), in.count()) else buffer.add(in.zigzag(), in.count())
      i += 1
    }
    if (buffer.total != in.total) in.bad(s"counts sum to ${buffer.total}, header says ${in.total}")
    buffer
  }

  /** Decodes a blob written with `serialize(sorted = true)`. */
  def sorted(bytes: Array[Byte]): SortedKeyCounts = {
    val in = new In(bytes)
    if (!in.sorted) in.bad("entries are not sorted")
    val n = in.entries
    val longKeys = if (in.byteKeys) null else new Array[Long](n)
    val stringKeys = if (in.byteKeys) new Array[UTF8String](n) else null
    val counts = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (in.byteKeys) stringKeys(i) = in.string() else longKeys(i) = in.zigzag()
      counts(i) = in.count()
      i += 1
    }
    new SortedKeyCounts(longKeys, stringKeys, counts, in.total)
  }

  private final class Out(initial: Int) {
    private var buf = new Array[Byte](initial)
    private var pos = 0
    private def ensure(n: Int): Unit =
      if (pos + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, pos + n))
    def byte(v: Int): Unit = { ensure(1); buf(pos) = v.toByte; pos += 1 }
    def int(v: Int): Unit = {
      ensure(4)
      var s = 24
      while (s >= 0) { buf(pos) = (v >>> s).toByte; pos += 1; s -= 8 }
    }
    def varLong(v: Long): Unit = {
      ensure(10)
      var x = v
      while ((x & ~0x7FL) != 0) { buf(pos) = ((x & 0x7F) | 0x80).toByte; pos += 1; x >>>= 7 }
      buf(pos) = x.toByte; pos += 1
    }
    def zigzag(v: Long): Unit = varLong((v << 1) ^ (v >> 63))
    def bytes(b: Array[Byte]): Unit = {
      varLong(b.length)
      ensure(b.length)
      System.arraycopy(b, 0, buf, pos, b.length); pos += b.length
    }
    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, pos)
  }

  /** Reads the header on construction; every length and count is checked
    * against the bytes left, so a foreign blob fails with a message
    * instead of an executor EOF or allocation error. */
  private final class In(b: Array[Byte]) {
    private var pos = 0
    def bad(msg: String): Nothing =
      throw new IllegalArgumentException(s"not a key_counts blob: $msg")
    private def byte(): Int = {
      if (pos >= b.length) bad("truncated")
      val v = b(pos); pos += 1; v
    }
    private def varLong(): Long = {
      var x = 0L
      var s = 0
      var v = byte()
      while ((v & 0x80) != 0) {
        if (s > 56) bad("varint too long")
        x |= (v & 0x7FL) << s; s += 7; v = byte()
      }
      x | (v.toLong << s)
    }
    def zigzag(): Long = { val v = varLong(); (v >>> 1) ^ -(v & 1) }
    def count(): Long = {
      val c = varLong()
      if (c <= 0) bad(s"count $c is not positive")
      c
    }
    def string(): UTF8String = {
      val len = varLong()
      if (len < 0 || len > b.length - pos) bad(s"key length $len exceeds the ${b.length - pos} bytes left")
      val s = UTF8String.fromBytes(b, pos, len.toInt); pos += len.toInt; s
    }

    if (b.length < 5) bad(s"${b.length} bytes is shorter than the header")
    private val magic = (0 until 4).foldLeft(0)((m, _) => (m << 8) | (byte() & 0xFF))
    if (magic != Magic) bad(f"magic word 0x$magic%08x != 0x$Magic%08x ('KYC1')")
    private val flags = byte()
    val byteKeys: Boolean = (flags & 1) != 0
    val sorted: Boolean = (flags & 2) != 0
    val total: Long = varLong()
    val entries: Int = {
      val n = varLong()
      // every entry takes at least two bytes
      if (n < 0 || n > (b.length - pos) / 2) bad(s"entry count $n exceeds the ${b.length - pos} bytes left")
      n.toInt
    }
  }
}

/** `key_counts(key)` — aggregates a column into its exact [[KeyCounts]],
  * serialized (BinaryType) with the keys sorted. NULL keys are skipped.
  * An `array<T>` column counts each non-NULL element as a key of type
  * `T`, as `key_counts` over the column's `explode` would, without
  * exploding a row per element; a NULL array adds nothing.
  * Same partial/final shape as [[FreqSketchAgg]]: each task keeps one
  * buffer per group, the shuffle carries one blob per group per task,
  * and the reducer merges them. */
final case class KeyCountsAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KeyCounts]
  with UnaryLike[Expression] {

  /** The key type: the element type of an array column. */
  @transient private lazy val keyType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case dt => dt
  }
  @transient private lazy val encoder = KeyCounts.encoder(keyType).get

  override def checkInputDataTypes(): TypeCheckResult = KeyCounts.encoder(keyType) match {
    case Some(_) => TypeCheckResult.TypeCheckSuccess
    case None => TypeCheckResult.TypeCheckFailure(
      s"key_counts requires an atomic key type or an array of one, got ${child.dataType.simpleString}")
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "key_counts"

  override def createAggregationBuffer(): KeyCounts = new KeyCounts(encoder.byteKeys)

  override def update(buffer: KeyCounts, input: InternalRow): KeyCounts = {
    child.eval(input) match {
      case null =>
      case a: ArrayData =>
        var i = 0
        while (i < a.numElements()) {
          if (!a.isNullAt(i)) encoder.add(buffer, a.get(i, keyType))
          i += 1
        }
      case v => encoder.add(buffer, v)
    }
    buffer
  }

  override def merge(buffer: KeyCounts, other: KeyCounts): KeyCounts = buffer.merge(other)

  override def eval(buffer: KeyCounts): Any = buffer.serialize(sorted = true)
  override def serialize(buffer: KeyCounts): Array[Byte] = buffer.serialize(sorted = false)
  override def deserialize(bytes: Array[Byte]): KeyCounts = KeyCounts.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KeyCountsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KeyCountsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KeyCountsAgg =
    copy(child = newChild)
}

/** `name(observed, reference)` — scalar over two `key_counts` blobs:
  * `score` reads both sorted, typically walking the union of their keys
  * ([[SortedKeyCounts.foreachUnion]]). Runs on aggregated rows only. */
final case class KeyCountsScore(
    left: Expression, right: Expression, name: String,
    score: (SortedKeyCounts, SortedKeyCounts) => Double)
  extends BinaryExpression with graft.compile.BinaryKernelCallCodegen {

  override def dataType: DataType = DoubleType
  override def prettyName: String = name
  override protected def flatArguments: Iterator[Any] = Iterator(left, right)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$name requires two key_counts blobs, got ${l.simpleString}, ${r.simpleString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    score(KeyCounts.sorted(l.asInstanceOf[Array[Byte]]), KeyCounts.sorted(r.asInstanceOf[Array[Byte]]))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KeyCountsScore =
    copy(left = newLeft, right = newRight)
}

object KeyCountsFunctions {
  /** Exact counts of a column's non-NULL values (of an array column's
    * non-NULL elements), as a sorted blob. */
  def key_counts(c: Column): Column =
    ColumnBridge.column(KeyCountsAgg(ColumnBridge.expression(c)).toAggregateExpression())

  /** `score` of two `key_counts` blob columns, shown as `name` in plans. */
  def key_counts_score(name: String, observed: Column, reference: Column)(
      score: (SortedKeyCounts, SortedKeyCounts) => Double): Column =
    ColumnBridge.column(KeyCountsScore(
      ColumnBridge.expression(observed), ColumnBridge.expression(reference), name, score))
}
