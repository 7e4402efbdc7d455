package graft.ebw

import org.apache.spark.rdd.RDD

/**
 * The single distributed kernel behind every solver mode: one
 * `treeAggregate` traversal computes, for the current k-dim dual iterate
 * theta,
 *
 *   s    = sum_i w0_i r_i x_i                  (k)      weighted moment totals
 *   gram = sum_i w0_i r'_i x_i x_i^T           (k(k+1)/2, packed upper tri)
 *   fval = sum_i w0_i (r_i ln r_i - r_i + 1)   KL criterion (shared.py:41-54)
 *   wrsum= sum_i w0_i r_i
 *
 * where r_i = link(x_i . theta). This is the same access pattern the
 * reference implements with MKL sparse matvecs + gram_matrix_mkl
 * (ebw_routines.py:211,226-233) — here it distributes over the N dimension
 * with O(k^2) driver traffic per pass and zero shuffles (treeAggregate is a
 * reduction). Buffers are flat primitive arrays: no per-row allocation.
 */
private[ebw] object EbwAggregator {

  final case class Pass(
      s: Array[Double],
      gram: Array[Double],
      fval: Double,
      wrsum: Double,
      count: Long,
      gramKeys: Array[Long] = null,
      gramVals: Array[Double] = null) {
    def isSparse: Boolean = gramKeys != null
  }

  /** Packed upper-triangular index for i <= j. */
  @inline def pidx(k: Int, i: Int, j: Int): Int = i * k - i * (i + 1) / 2 + j

  def run(rows: RDD[EbwRow], k: Int, theta: Array[Double], link: Link): Pass = {
    val tri = k * (k + 1) / 2
    val size = k + tri + 3
    val th = theta
    val lk = link
    val out = rows.treeAggregate(new Array[Double](size))(
      seqOp = (buf, row) => { add(buf, row, th, lk, k, tri); buf },
      combOp = (a, b) => {
        var i = 0
        while (i < size) { a(i) += b(i); i += 1 }
        a
      },
      depth = 2)
    Pass(
      s = java.util.Arrays.copyOfRange(out, 0, k),
      gram = java.util.Arrays.copyOfRange(out, k, k + tri),
      fval = out(k + tri),
      wrsum = out(k + tri + 1),
      count = out(k + tri + 2).toLong)
  }

  private def add(
      buf: Array[Double],
      row: EbwRow,
      theta: Array[Double],
      link: Link,
      k: Int,
      tri: Int): Unit = {
    val vals = row.vals
    val idx = row.idx
    // t = x . theta
    var t = 0.0
    if (idx == null) {
      var j = 0
      while (j < k) { t += vals(j) * theta(j); j += 1 }
    } else {
      var p = 0
      while (p < idx.length) { t += vals(p) * theta(idx(p)); p += 1 }
    }
    val (r, rp) = link.rAndSlope(t)
    val w0 = row.w0
    val wr = w0 * r
    // KL criterion term; r -> 0 limit of (r ln r - r + 1) is 1.
    buf(k + tri) += (if (r <= 0.0) w0 else w0 * (r * math.log(r) - r + 1.0))
    buf(k + tri + 1) += wr
    buf(k + tri + 2) += 1.0
    val wrp = w0 * rp
    if (idx == null) {
      var i = 0
      while (i < k) {
        val vi = vals(i)
        buf(i) += wr * vi
        if (wrp != 0.0 && vi != 0.0) {
          val wv = wrp * vi
          val base = k + i * k - i * (i + 1) / 2
          var j = i
          while (j < k) { buf(base + j) += wv * vals(j); j += 1 }
        }
        i += 1
      }
    } else {
      val nnz = idx.length
      var p = 0
      while (p < nnz) {
        val i = idx(p)
        val vi = vals(p)
        buf(i) += wr * vi
        if (wrp != 0.0) {
          val wv = wrp * vi
          val base = k + i * k - i * (i + 1) / 2
          var q = p
          while (q < nnz) { buf(base + idx(q)) += wv * vals(q); q += 1 }
        }
        p += 1
      }
    }
  }

  /**
   * Large-k variant: identical statistics, but the Gram is accumulated
   * sparsely, keyed by i*k+j (i <= j). For group-dummy / interaction
   * designs (the reference's "hundreds of thousands of constraints" regime,
   * README.md "models with ... hundreds of thousands of constraints") the
   * Gram has O(k) to O(k * nnz_row) entries, not k^2 — a packed dense
   * buffer would be 100 MB+/task at k = 5000 while the sparse Gram stays
   * proportional to the realized cross pattern. Each partition fills one
   * primitive [[GramTable]] and finishes it as a key-sorted
   * [[SortedGram]]; a [[GramSum]] adds the partials up with linear sorted
   * merges, executor-side up the `depth`-level tree and then on the
   * driver. `gramKeys` come back
   * strictly ascending. Paired with the driver-side CG solve in
   * DriverLinalg.
   */
  def runSparse(rows: RDD[EbwRow], k: Int, theta: Array[Double], link: Link,
      depth: Int = 2): Pass = {
    val th = theta
    val lk = link
    val out = rows.mapPartitions { it =>
      val s = new Array[Double](k)
      val gram = new GramTable()
      var fval = 0.0
      var wrsum = 0.0
      var count = 0L
      while (it.hasNext) {
        val row = it.next()
        val vals = row.vals
        val idx = row.idx
        val (r, rp) = lk.rAndSlope(margin(row, th, k))
        val w0 = row.w0
        val wr = w0 * r
        fval += (if (r <= 0.0) w0 else w0 * (r * math.log(r) - r + 1.0))
        wrsum += wr
        count += 1
        if (idx == null) {
          var i = 0
          while (i < k) {
            val vi = vals(i)
            if (vi != 0.0) s(i) += wr * vi
            i += 1
          }
        } else {
          var p = 0
          while (p < idx.length) { s(idx(p)) += wr * vals(p); p += 1 }
        }
        gram.addRow(0L, k, idx, vals, w0 * rp)
      }
      Iterator(new SparsePartial(s, new GramSum().add(gram.sorted()), fval, wrsum, count))
    }.treeAggregate(new SparsePartial(new Array[Double](k), new GramSum(), 0.0, 0.0, 0L))(
      _ merge _, _ merge _, depth)
    val gram = out.gram.result
    Pass(out.s, null, out.fval, out.wrsum, out.count, gram.keys, gram.vals)
  }

  /** One partition's (or merged subtree's) large-k statistics; `merge`
   * sums `o` into this one. */
  private final class SparsePartial(
      val s: Array[Double], val gram: GramSum,
      var fval: Double, var wrsum: Double, var count: Long) extends Serializable {
    def merge(o: SparsePartial): SparsePartial = {
      var i = 0
      while (i < s.length) { s(i) += o.s(i); i += 1 }
      gram.addAll(o.gram)
      fval += o.fval
      wrsum += o.wrsum
      count += o.count
      this
    }
  }

  /** t = x . theta for one row (dense or sparse encoding). */
  @inline private def margin(row: EbwRow, theta: Array[Double], k: Int): Double = {
    val vals = row.vals
    val idx = row.idx
    var t = 0.0
    if (idx == null) {
      var j = 0
      while (j < k) { t += vals(j) * theta(j); j += 1 }
    } else {
      var p = 0
      while (p < idx.length) { t += vals(p) * theta(idx(p)); p += 1 }
    }
    t
  }

  /**
   * Statistics-only pass: s, fval, wrsum, count — NO Gram. Θ(N·nnz)
   * instead of Θ(N·nnz²). The distributed-Gram mode's line-search
   * evaluation: Armijo trials only need the dual objective pieces, so the
   * Gram (the expensive part) is built once per ACCEPTED iterate, not per
   * trial.
   */
  def runStats(rows: RDD[EbwRow], k: Int, theta: Array[Double], link: Link): Pass = {
    val th = theta
    val lk = link
    val size = k + 3
    val out = rows.treeAggregate(new Array[Double](size))(
      seqOp = (buf, row) => {
        val vals = row.vals
        val idx = row.idx
        val (r, _) = lk.rAndSlope(margin(row, th, k))
        val w0 = row.w0
        val wr = w0 * r
        buf(k) += (if (r <= 0.0) w0 else w0 * (r * math.log(r) - r + 1.0))
        buf(k + 1) += wr
        buf(k + 2) += 1.0
        if (idx == null) {
          var i = 0
          while (i < k) { buf(i) += wr * vals(i); i += 1 }
        } else {
          var p = 0
          while (p < idx.length) { buf(idx(p)) += wr * vals(p); p += 1 }
        }
        buf
      },
      combOp = (a, b) => {
        var i = 0
        while (i < size) { a(i) += b(i); i += 1 }
        a
      },
      depth = 2)
    Pass(
      s = java.util.Arrays.copyOfRange(out, 0, k),
      gram = null,
      fval = out(k),
      wrsum = out(k + 1),
      count = out(k + 2).toLong)
  }

  /**
   * The Gram as a DISTRIBUTED dataset — the no-driver-ceiling mode for
   * the large-N × large-k regime (EbwSizing decides): each partition fills
   * one [[GramTable]] (the runSparse build) and streams its entries out
   * as (key, value) pairs; a reduceByKey merges them ACROSS EXECUTORS and
   * the merged Gram never lands on the driver. The Newton direction is
   * then solved by CG with distributed matvecs (DriverLinalg.cgSolveRdd) —
   * per-iteration driver traffic is O(k), not O(gram nnz), so the regime
   * that OOMed the default 8 GB driver (N=1e7: ~50 M realized Gram
   * entries) runs within default budgets. Caller persists/unpersists the
   * returned RDD.
   */
  def gramRdd(rows: RDD[EbwRow], k: Int, theta: Array[Double], link: Link,
      aggParts: Int): RDD[(Long, Double)] = {
    val th = theta
    val lk = link
    rows.mapPartitions { it =>
      val gram = new GramTable()
      while (it.hasNext) {
        val row = it.next()
        val (_, rp) = lk.rAndSlope(margin(row, th, k))
        gram.addRow(0L, k, row.idx, row.vals, row.w0 * rp)
      }
      gram.iterator
    }.combineByKeyWithClassTag[Double](
      createCombiner = (v: Double) => v,
      mergeValue = (a: Double, b: Double) => a + b,
      mergeCombiners = (a: Double, b: Double) => a + b,
      partitioner = new org.apache.spark.HashPartitioner(aggParts),
      // The GramTable above IS the map-side combine: within a partition
      // every key is already unique, so reduceByKey's default map-side
      // aggregation would build a SECOND full-partial-sized hash map per
      // task purely to rediscover that uniqueness — measured as the
      // executor heap OOM site (AppendOnlyMap.growTable) at N=1e7 × 32
      // concurrent tasks. Streaming pairs straight to the shuffle writers
      // costs zero extra shuffle volume and caps task memory at the one
      // partial.
      mapSideCombine = false)
  }

  /**
   * One-pass weighted least squares for the primal warm start: solves
   * (sum w0 x x') lambda = sum w0 x ln(r0) — the projection of the log
   * ratio guess onto span(X). Returns (packed gram, rhs). Rows with
   * non-finite or nonpositive ratios are skipped: the guess is only a
   * seed, never a correctness input.
   */
  def ratioSeed(rows: RDD[(EbwRow, Double)], k: Int): (Array[Double], Array[Double]) = {
    val tri = k * (k + 1) / 2
    val size = tri + k
    val out = rows.treeAggregate(new Array[Double](size))(
      seqOp = (buf, rowAndRatio) => {
        val (row, ratio) = rowAndRatio
        // defensive row guard: the solver validates the same frame
        // separately, but this pass must never AIOOBE on its own
        if (ratio > 0.0 && !ratio.isInfinite && !ratio.isNaN &&
            rowNnz(row.idx, row.vals, row.w0, k) >= 0) {
          val lnr = math.log(ratio)
          val w0 = row.w0
          val vals = row.vals
          val idx = row.idx
          if (idx == null) {
            var i = 0
            while (i < k) {
              val vi = vals(i)
              if (vi != 0.0) {
                buf(tri + i) += w0 * lnr * vi
                val wv = w0 * vi
                val base = i * k - i * (i + 1) / 2
                var j = i
                while (j < k) { buf(base + j) += wv * vals(j); j += 1 }
              }
              i += 1
            }
          } else {
            val nnz = idx.length
            var p = 0
            while (p < nnz) {
              val i = idx(p)
              val vi = vals(p)
              buf(tri + i) += w0 * lnr * vi
              val wv = w0 * vi
              val base = i * k - i * (i + 1) / 2
              var q = p
              while (q < nnz) { buf(base + idx(q)) += wv * vals(q); q += 1 }
              p += 1
            }
          }
        }
        buf
      },
      combOp = (a, b) => {
        var i = 0
        while (i < size) { a(i) += b(i); i += 1 }
        a
      },
      depth = 2)
    (java.util.Arrays.copyOfRange(out, 0, tri),
      java.util.Arrays.copyOfRange(out, tri, size))
  }

  /** Validation + sizing pass: returns (badRows, sumW, n, sumPairs) where
   * sumPairs = Σ_i nnz_i(nnz_i+1)/2 — the total Gram-entry contributions,
   * the input to EbwSizing's partition/depth/mode heuristic (counted in
   * the same scan that checks finiteness, so sizing costs nothing extra). */
  def validate(rows: RDD[EbwRow], k: Int): (Long, Double, Long, Long) = {
    val out = rows.treeAggregate(new Array[Double](4))(
      seqOp = (buf, row) => {
        val nnz = rowNnz(row.idx, row.vals, row.w0, k)
        if (nnz < 0) buf(0) += 1.0
        else {
          buf(1) += row.w0
          buf(3) += nnz.toDouble * (nnz + 1) / 2
        }
        buf(2) += 1.0
        buf
      },
      combOp = (a, b) => { a(0) += b(0); a(1) += b(1); a(2) += b(2); a(3) += b(3); a },
      depth = 2)
    (out(0).toLong, out(1), out(2).toLong, out(3).toLong)
  }

  /** The row-validity predicate of every solver, single and grouped:
   * -1 when the row is invalid (NaN, infinite or non-positive w0;
   * missing or malformed features; a non-finite feature value), else the
   * row's feature nnz. Mirrors the reference's inputs_are_invalid
   * (shared.py:105-133). */
  def rowNnz(idx: Array[Int], vals: Array[Double], w0: Double, k: Int): Int = {
    if (w0.isNaN || w0.isInfinite || w0 <= 0.0 || vals == null) return -1
    if (idx == null) { if (vals.length != k) return -1 }
    else if (idx.length != vals.length ||
        (idx.length > 0 && (idx(idx.length - 1) >= k || idx(0) < 0))) return -1
    var nnz = 0
    var p = 0
    while (p < vals.length) {
      val v = vals(p)
      if (v.isNaN || v.isInfinite) return -1
      if (v != 0.0) nnz += 1
      p += 1
    }
    nnz
  }
}
