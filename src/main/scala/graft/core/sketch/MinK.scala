package graft.core.sketch

/**
 * The k smallest of a stream of longs, plus how many values it dropped:
 * the LSH band-cap heap. A bounded max-heap that grows geometrically to
 * k, so sub-cap groups (the common case) never pay the full-cap
 * allocation. Merging two heaps keeps the k smallest of their union and
 * sums their drops, so any split of the stream, folded part by part and
 * merged in any order, keeps the same ids and the same drop count.
 *
 * Serialized layout: [k: Int][n: Int][dropped: Long][heap: Long*n], the
 * heap in heap order, so `fromBytes(toBytes)` continues exactly as the
 * original.
 */
final class MinK(val k: Int) {
  require(k >= 1, s"k must be positive, got $k")
  private var n = 0
  private var _dropped = 0L
  private var heap: Array[Long] = Array.emptyLongArray

  /** Values seen beyond the k kept. */
  def dropped: Long = _dropped

  def add(v: Long): Unit = {
    if (n < k) {
      if (n == heap.length)
        heap = java.util.Arrays.copyOf(heap, math.min(k, math.max(16, heap.length * 2)))
      heap(n) = v; n += 1
      var i = n - 1
      while (i > 0 && heap((i - 1) / 2) < heap(i)) {
        val p = (i - 1) / 2
        val t = heap(p); heap(p) = heap(i); heap(i) = t
        i = p
      }
    } else {
      _dropped += 1
      if (v < heap(0)) {
        heap(0) = v
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1; val r = l + 1
          var m = i
          if (l < n && heap(l) > heap(m)) m = l
          if (r < n && heap(r) > heap(m)) m = r
          if (m == i) done = true
          else { val t = heap(m); heap(m) = heap(i); heap(i) = t; i = m }
        }
      }
    }
  }

  /** Merge `o` into this heap (`o` is left unchanged); returns this. */
  def merge(o: MinK): MinK = {
    var i = 0
    while (i < o.n) { add(o.heap(i)); i += 1 }
    _dropped += o._dropped
    this
  }

  /** The kept values, ascending. */
  def ids: Array[Long] = {
    val out = java.util.Arrays.copyOf(heap, n)
    java.util.Arrays.sort(out)
    out
  }

  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 4 + 8 + 8 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(k).putInt(n).putLong(_dropped)
    bb.asLongBuffer().put(heap, 0, n)
    bb.array()
  }
}

object MinK {
  def empty(k: Int): MinK = new MinK(k)

  def fromBytes(bytes: Array[Byte]): MinK = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val m = new MinK(bb.getInt())
    m.n = bb.getInt()
    m._dropped = bb.getLong()
    m.heap = new Array[Long](m.n)
    bb.asLongBuffer().get(m.heap, 0, m.n)
    m
  }
}
