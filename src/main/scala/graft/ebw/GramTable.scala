package graft.ebw

/**
 * A primitive open-addressing `long -> int` index that numbers distinct
 * keys (>= 0) 0, 1, 2, ... in the order they are first seen: the probing
 * core of [[GramTable]] and of the per-partition Gram pattern
 * (EbwAggregator.compileBlock).
 *
 * Layout: two parallel slot arrays (`Array[Long]` keys, `Array[Int]`
 * ids) with linear probing, Fibonacci-hashed slots, -1 as the empty key,
 * and load kept at or below 0.5 (the table doubles past it). Nothing is
 * boxed and each lookup is one probe sequence.
 */
private[ebw] final class KeyIndex {
  import GramTable._

  private var capacity = InitialCapacity
  private var shift = 64 - Integer.numberOfTrailingZeros(capacity)
  private var keys = newKeys(capacity)
  private var ids = new Array[Int](capacity)
  private var n = 0

  def size: Int = n

  /** The id of `key`, numbering it `size` if it is new. */
  def idOf(key: Long): Int = {
    val mask = capacity - 1
    var h = slot(key, shift)
    while (true) {
      val at = keys(h)
      if (at == key) return ids(h)
      if (at == Empty) {
        keys(h) = key
        ids(h) = n
        n += 1
        if (n > (capacity >>> 1)) grow()
        return n - 1
      }
      h = (h + 1) & mask
    }
    -1
  }

  /** Every (key, id) pair, in table order. */
  def entries: Iterator[(Long, Int)] = {
    val ks = keys
    val is = ids
    Iterator.range(0, ks.length).filter(ks(_) != Empty).map(h => (ks(h), is(h)))
  }

  /** The keys, strictly ascending. */
  def sortedKeys(): Array[Long] = {
    val out = new Array[Long](n)
    var m = 0
    var h = 0
    while (h < capacity) {
      if (keys(h) != Empty) { out(m) = keys(h); m += 1 }
      h += 1
    }
    java.util.Arrays.sort(out)
    out
  }

  /** Each id's rank among the ascending keys (`sorted` is [[sortedKeys]]),
   * read off the table's own probe of each sorted key. */
  def ranks(sorted: Array[Long]): Array[Int] = {
    val out = new Array[Int](n)
    val mask = capacity - 1
    var p = 0
    while (p < n) {
      val key = sorted(p)
      var h = slot(key, shift)
      while (keys(h) != key) h = (h + 1) & mask
      out(ids(h)) = p
      p += 1
    }
    out
  }

  private def grow(): Unit = {
    require(capacity < (1 << 30), s"KeyIndex cannot grow past $n entries")
    val oldK = keys
    val oldI = ids
    capacity <<= 1
    shift -= 1
    keys = newKeys(capacity)
    ids = new Array[Int](capacity)
    val mask = capacity - 1
    var h = 0
    while (h < oldK.length) {
      val key = oldK(h)
      if (key != Empty) {
        var s = slot(key, shift)
        while (keys(s) != Empty) s = (s + 1) & mask
        keys(s) = key
        ids(s) = oldI(h)
      }
      h += 1
    }
  }
}

/**
 * The large-k sparse-Gram accumulator of the pass that builds a Gram
 * from scratch (EbwAggregator.gramRdd): a [[KeyIndex]] over the packed
 * upper-triangular keys `base + i*k + j` (i <= j, keys >= 0) with one
 * primitive value per id, that a partition fills row by row and then
 * streams out or finishes as a [[SortedGram]].
 */
private[ebw] final class GramTable {
  private val index = new KeyIndex
  private var vals = new Array[Double](GramTable.InitialCapacity >>> 1)

  def size: Int = index.size

  /** Adds `v` to the entry at `key` (>= 0), inserting it if absent. */
  def add(key: Long, v: Double): Unit = {
    val id = index.idOf(key)
    if (id == vals.length) vals = java.util.Arrays.copyOf(vals, 2 * id)
    vals(id) += v
  }

  /**
   * Adds one row's upper-triangular cross products `scale * x_i * x_j`
   * at keys `base + i*k + j`. Dense rows (`idx == null`) skip zero
   * entries; sparse rows keep every listed index, zeros included, so a
   * structural entry always has a key.
   */
  def addRow(base: Long, k: Int, idx: Array[Int], x: Array[Double], scale: Double): Unit = {
    if (scale == 0.0) return
    if (idx == null) {
      var i = 0
      while (i < k) {
        val vi = x(i)
        if (vi != 0.0) {
          val wv = scale * vi
          val rowBase = base + i.toLong * k
          var j = i
          while (j < k) {
            val vj = x(j)
            if (vj != 0.0) add(rowBase + j, wv * vj)
            j += 1
          }
        }
        i += 1
      }
    } else {
      val nnz = idx.length
      var p = 0
      while (p < nnz) {
        val wv = scale * x(p)
        val rowBase = base + idx(p).toLong * k
        var q = p
        while (q < nnz) { add(rowBase + idx(q), wv * x(q)); q += 1 }
        p += 1
      }
    }
  }

  /** Every (key, value) entry, in table order. */
  def iterator: Iterator[(Long, Double)] = {
    val vs = vals
    index.entries.map { case (key, id) => (key, vs(id)) }
  }

  /** The entries as strictly ascending keys with their values. */
  def sorted(): SortedGram = {
    val keys = index.sortedKeys()
    val rank = index.ranks(keys)
    val out = new Array[Double](keys.length)
    var id = 0
    while (id < out.length) { out(rank(id)) = vals(id); id += 1 }
    SortedGram(keys, out)
  }
}

private[ebw] object GramTable {
  private[ebw] val Empty = -1L
  /** Slots of a new table (a power of two). */
  private[ebw] val InitialCapacity = 1024

  private[ebw] def newKeys(capacity: Int): Array[Long] = {
    val a = new Array[Long](capacity)
    java.util.Arrays.fill(a, Empty)
    a
  }

  /** Home slot of `key` in a table of 2^(64 - shift) slots: the top bits
   * of a Fibonacci multiply, so consecutive keys spread out. */
  @inline private[ebw] def slot(key: Long, shift: Int): Int =
    ((key * 0x9E3779B97F4A7C15L) >>> shift).toInt
}

/** A sparse Gram as strictly ascending keys and their values. */
private[ebw] final case class SortedGram(keys: Array[Long], vals: Array[Double]) {
  def size: Int = keys.length

  /** Entry-wise sum in one linear pass over both key lists
   * (`this` first where keys meet), into arrays sized to the key union
   * by a first counting pass. */
  def merge(o: SortedGram): SortedGram = {
    if (o.size == 0) return this
    if (size == 0) return o
    val na = keys.length
    val nb = o.keys.length
    var i = 0
    var j = 0
    var shared = 0
    while (i < na && j < nb) {
      val a = keys(i)
      val b = o.keys(j)
      if (a < b) i += 1
      else if (b < a) j += 1
      else { shared += 1; i += 1; j += 1 }
    }
    val ok = new Array[Long](na + nb - shared)
    val ov = new Array[Double](na + nb - shared)
    i = 0
    j = 0
    var m = 0
    while (i < na && j < nb) {
      val a = keys(i)
      val b = o.keys(j)
      if (a < b) { ok(m) = a; ov(m) = vals(i); i += 1 }
      else if (b < a) { ok(m) = b; ov(m) = o.vals(j); j += 1 }
      else { ok(m) = a; ov(m) = vals(i) + o.vals(j); i += 1; j += 1 }
      m += 1
    }
    System.arraycopy(keys, i, ok, m, na - i)
    System.arraycopy(vals, i, ov, m, na - i)
    m += na - i
    System.arraycopy(o.keys, j, ok, m, nb - j)
    System.arraycopy(o.vals, j, ov, m, nb - j)
    SortedGram(ok, ov)
  }

  /** The entries with keys in [from, until), re-based by `-from`. */
  def slice(from: Long, until: Long): SortedGram = {
    val lo = lowerBound(from)
    val hi = lowerBound(until)
    val ks = new Array[Long](hi - lo)
    var p = 0
    while (p < ks.length) { ks(p) = keys(lo + p) - from; p += 1 }
    SortedGram(ks, java.util.Arrays.copyOfRange(vals, lo, hi))
  }

  private def lowerBound(key: Long): Int = {
    val at = java.util.Arrays.binarySearch(keys, key)
    if (at >= 0) at else -at - 1
  }
}

private[ebw] object SortedGram {
  val empty: SortedGram = SortedGram(new Array[Long](0), new Array[Double](0))
}

/**
 * A running sum of key-sorted partials, for the tree reductions of the
 * sparse passes. It keeps a stack of merged runs, each more than twice
 * the size of the one above it; an added partial merges with the top run
 * while that run is at most twice its size. Partials that share their
 * keys (one-hot designs) therefore merge as they arrive, while f
 * partials with disjoint keys cost O(total log f) copying rather than
 * the O(total f) of folding them one at a time into a single result.
 */
private[ebw] final class GramSum extends Serializable {
  private val runs = scala.collection.mutable.ArrayBuffer.empty[SortedGram]

  def add(g: SortedGram): GramSum = {
    var cur = g
    while (runs.nonEmpty && runs.last.size <= 2L * cur.size)
      cur = runs.remove(runs.length - 1).merge(cur)
    if (cur.size > 0) runs += cur
    this
  }

  def addAll(o: GramSum): GramSum = { o.runs.foreach(add); this }

  /** The merged sum (smallest runs first). */
  def result: SortedGram = runs.foldRight(SortedGram.empty)((run, acc) => run.merge(acc))
}
