package graft.sketch

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable.ArrayBuffer

/** KLL quantile sketch (Karnin–Lang–Liberty, FOCS'16) — the mergeable,
  * constant-memory quantile summary named by the north star for per-column
  * stats and persisted drift profiles.
  *
  * Why not `approx_percentile`: its sketch lives only inside one
  * aggregation — it cannot be persisted to the checkpoint table, merged
  * across interrupted runs, or compared between a reference profile and a
  * later observation. This sketch serializes to a few KB, merges
  * associatively, and supports rank/CDF queries, so a 10^12-row drift
  * profile is carried as one binary cell per (partition, column).
  *
  * Structure: a stack of compactors; an item at level h carries weight 2^h.
  * Level capacities decay geometrically (ratio 2/3) from `k` at the top, so
  * total space is O(k). Compaction sorts a full level and promotes a random
  * odd/even half to the level above — rank error is unbiased with
  * normalized standard error O(1/k). The coin is drawn from a
  * multiplicative-hash of the running count, so a given insertion order
  * reproduces bit-identical sketches (no wall-clock, no global RNG).
  *
  * Not thread-safe; one instance per aggregation buffer.
  */
final class KllSketch private (
    val k: Int,
    private var levels: ArrayBuffer[ArrayBuffer[Double]],
    private var n: Long,
    private var minV: Double,
    private var maxV: Double) extends Serializable {

  def count: Long = n
  def isEmpty: Boolean = n == 0
  def min: Double = minV
  def max: Double = maxV

  private def numLevels: Int = levels.length

  /** Capacity of `level` given the current height: k at the top, decaying
    * by 2/3 per step down, floored at 2 (a compactor needs a pair). */
  private def capacity(level: Int): Int = {
    val height = numLevels - 1 - level
    math.max(2, math.ceil(k * math.pow(2.0 / 3.0, height)).toInt)
  }

  private def totalSize: Int = {
    var s = 0; var i = 0
    while (i < levels.length) { s += levels(i).length; i += 1 }
    s
  }

  private def totalCapacity: Int = {
    var s = 0; var i = 0
    while (i < levels.length) { s += capacity(i); i += 1 }
    s
  }

  def update(v: Double): Unit = {
    if (v.isNaN) return // NaN has no rank; mirror SQL aggregate NULL-skip
    invalidate()
    if (n == 0) { minV = v; maxV = v }
    else { if (v < minV) minV = v; if (v > maxV) maxV = v }
    levels(0) += v
    n += 1
    if (totalSize > totalCapacity) compress()
  }

  /** Deterministic coin: splitmix64 finalizer over the running count. */
  private def coin(): Boolean = {
    var z = n + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    ((z ^ (z >>> 31)) & 1L) == 1L
  }

  private def compress(): Unit = {
    var guard = 0
    while (totalSize > totalCapacity && guard < 64) {
      guard += 1
      // lowest over-full level (ties to the cheapest compaction)
      var l = 0
      while (l < numLevels && levels(l).length < capacity(l)) l += 1
      if (l == numLevels) return
      val buf = levels(l)
      if (l + 1 == numLevels) levels += ArrayBuffer.empty[Double]
      val sorted = buf.toArray
      java.util.Arrays.sort(sorted)
      // odd size: set ONE element aside first, compact the even-sized rest
      // (keeping it in the promoted range would double-count its weight:
      // promoted (m+1)/2 items at 2w + survivor w > m·w)
      val m = sorted.length
      val even = m - (m % 2)
      val offset = if (coin()) 1 else 0
      val up = levels(l + 1)
      var i = offset
      while (i < even) { up += sorted(i); i += 2 }
      buf.clear()
      if (m % 2 == 1) buf += sorted(m - 1)
    }
  }

  def merge(other: KllSketch): Unit = {
    if (other.isEmpty) return
    invalidate()
    if (isEmpty) { minV = other.minV; maxV = other.maxV }
    else { minV = math.min(minV, other.minV); maxV = math.max(maxV, other.maxV) }
    while (numLevels < other.numLevels) levels += ArrayBuffer.empty[Double]
    var l = 0
    while (l < other.numLevels) { levels(l) ++= other.levels(l); l += 1 }
    n += other.n
    if (totalSize > totalCapacity) compress()
  }

  /** (value, weight) support points sorted by value — computed lazily and
    * cached: multi-probe reads (a quantile per probability, a CDF per
    * support point in ksDistance) would otherwise re-sort per call. The
    * cache is invalidated by every mutation (update/merge). */
  @transient private var weightedCache: (Array[Double], Array[Long]) = _

  private def invalidate(): Unit = weightedCache = null

  private def weighted(): (Array[Double], Array[Long]) = {
    if (weightedCache != null) return weightedCache
    val m = totalSize
    val vs = new Array[Double](m)
    val ws = new Array[Long](m)
    var idx = 0
    var l = 0
    while (l < numLevels) {
      val w = 1L << l
      val buf = levels(l)
      var i = 0
      while (i < buf.length) { vs(idx) = buf(i); ws(idx) = w; idx += 1; i += 1 }
      l += 1
    }
    // co-sort by value
    val order = (0 until m).sortBy(vs(_))
    weightedCache = (order.map(vs(_)).toArray, order.map(ws(_)).toArray)
    weightedCache
  }

  /** Smallest tracked value whose estimated rank covers `p*n` (p in [0,1]).
    * p=0 / p=1 return the exact min/max. */
  def quantile(p: Double): Double = {
    require(!isEmpty, "quantile of empty sketch")
    if (p <= 0.0) return minV
    if (p >= 1.0) return maxV
    val (vs, ws) = weighted()
    val target = p * n
    var cum = 0L
    var i = 0
    while (i < vs.length) {
      cum += ws(i)
      if (cum >= target) return vs(i)
      i += 1
    }
    maxV
  }

  /** Estimated fraction of items <= v. */
  def cdf(v: Double): Double = {
    if (isEmpty) return 0.0
    if (v < minV) return 0.0
    if (v >= maxV) return 1.0
    val (vs, ws) = weighted()
    var cum = 0L
    var i = 0
    while (i < vs.length && vs(i) <= v) { cum += ws(i); i += 1 }
    cum.toDouble / n
  }

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(KllSketch.Magic)
    out.writeInt(k)
    out.writeLong(n)
    out.writeDouble(minV)
    out.writeDouble(maxV)
    out.writeInt(numLevels)
    levels.foreach { buf =>
      out.writeInt(buf.length)
      buf.foreach(out.writeDouble)
    }
    out.flush()
    bos.toByteArray
  }

  def copySketch(): KllSketch =
    new KllSketch(k, levels.map(_.clone()), n, minV, maxV)

  private[sketch] def foreachItem(f: Double => Unit): Unit =
    levels.foreach(_.foreach(f))
}

object KllSketch {
  private val Magic = 0x4B4C4C31 // "KLL1"
  val DefaultK = 200

  def empty(k: Int = DefaultK): KllSketch =
    new KllSketch(k, ArrayBuffer(ArrayBuffer.empty[Double]), 0L,
      Double.NaN, Double.NaN)

  def deserialize(bytes: Array[Byte]): KllSketch = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    require(in.readInt() == Magic, "not a KLL sketch")
    val k = in.readInt()
    val n = in.readLong()
    val mn = in.readDouble()
    val mx = in.readDouble()
    val nl = in.readInt()
    val levels = ArrayBuffer.fill(nl)(ArrayBuffer.empty[Double])
    var l = 0
    while (l < nl) {
      val sz = in.readInt()
      var i = 0
      while (i < sz) { levels(l) += in.readDouble(); i += 1 }
      l += 1
    }
    new KllSketch(k, levels, n, mn, mx)
  }

  /** Two-sample Kolmogorov–Smirnov distance between two sketches:
    * max |cdf1 - cdf2| over the union of tracked support points. An empty
    * sketch reads 1.0 against a non-empty one (no mass where the other
    * has all of it) and 0.0 against an empty one. */
  def ksDistance(a: KllSketch, b: KllSketch): Double = {
    if (a.isEmpty || b.isEmpty) return if (a.isEmpty && b.isEmpty) 0.0 else 1.0
    val support = (a.supportPoints ++ b.supportPoints).distinct.sorted
    var d = 0.0
    support.foreach { v =>
      val diff = math.abs(a.cdf(v) - b.cdf(v))
      if (diff > d) d = diff
    }
    d
  }

  implicit private final class Support(private val s: KllSketch) extends AnyVal {
    def supportPoints: Array[Double] = {
      val out = ArrayBuffer.empty[Double]
      s.foreachItem(out += _)
      out.toArray
    }
  }
}
