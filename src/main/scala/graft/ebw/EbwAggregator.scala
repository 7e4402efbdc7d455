package graft.ebw

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/**
 * The distributed passes behind every solver mode, single and grouped.
 * For a k-dim dual iterate theta, a pass computes
 *
 *   s    = sum_i w0_i r_i x_i                  (k)      weighted moment totals
 *   gram = sum_i w0_i r'_i x_i x_i^T           (k(k+1)/2, packed upper tri)
 *   fval = sum_i w0_i (r_i ln r_i - r_i + 1)   KL criterion (shared.py:41-54)
 *   wrsum= sum_i w0_i r_i
 *
 * where r_i = link(x_i . theta). This is the same access pattern the
 * reference implements with MKL sparse matvecs + gram_matrix_mkl
 * (ebw_routines.py:211,226-233) — here it distributes over the N dimension
 * with O(k^2) driver traffic per pass and zero shuffles. Every pass shares
 * one set of per-row helpers ([[margin]], [[kl]], [[addScaled]],
 * [[addPacked]]) and one validation pass ([[validate]]). The dense pass
 * ([[run]]) is one `treeAggregate` over flat primitive arrays, one
 * block per group. Large k keeps the Gram sparse: [[sparsePattern]]
 * compiles each partition's Gram pattern once per solve and
 * [[runPattern]] fills only its values on every pass, again one block
 * per group. Every pass job is launched from a method of this object.
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

  /** t = x . theta for one row (dense or sparse encoding). */
  @inline def margin(row: EbwRow, theta: Array[Double], k: Int): Double = {
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

  /** One row's KL criterion term w0 (r ln r - r + 1); its r -> 0 limit
   * is w0. */
  @inline def kl(w0: Double, r: Double): Double =
    if (r <= 0.0) w0 else w0 * (r * math.log(r) - r + 1.0)

  /** buf(off + i) += scale * x_i over the row's entries (a dense row's
   * nonzeros, a sparse row's listed indices). */
  @inline def addScaled(buf: Array[Double], off: Int, k: Int,
      idx: Array[Int], vals: Array[Double], scale: Double): Unit =
    if (idx == null) {
      var i = 0
      while (i < k) {
        val vi = vals(i)
        if (vi != 0.0) buf(off + i) += scale * vi
        i += 1
      }
    } else {
      var p = 0
      while (p < idx.length) { buf(off + idx(p)) += scale * vals(p); p += 1 }
    }

  /** scale * x x^T into the packed upper triangle at buf(off ..): a dense
   * row's nonzero rows, every pair of a sparse row's listed indices. */
  @inline def addPacked(buf: Array[Double], off: Int, k: Int,
      idx: Array[Int], vals: Array[Double], scale: Double): Unit =
    if (idx == null) {
      var i = 0
      while (i < k) {
        val vi = vals(i)
        if (vi != 0.0) {
          val wv = scale * vi
          val base = off + pidx(k, i, 0)
          var j = i
          while (j < k) { buf(base + j) += wv * vals(j); j += 1 }
        }
        i += 1
      }
    } else {
      val nnz = idx.length
      var p = 0
      while (p < nnz) {
        val wv = scale * vals(p)
        val base = off + pidx(k, idx(p), 0)
        var q = p
        while (q < nnz) { buf(base + idx(q)) += wv * vals(q); q += 1 }
        p += 1
      }
    }

  /**
   * The dense pass, one block [s(k), gram(tri), fval, wrsum, count] per
   * group: group g's rows (EbwRow.g; every row is group 0 in a single
   * problem) at `thetas(g)` under `links(g)`. Rows of the groups `skip`
   * marks (converged grouped problems; null skips none) add nothing. One
   * `treeAggregate` of nG * (k + k(k+1)/2 + 3) doubles.
   */
  def run(rows: RDD[EbwRow], k: Int, thetas: Array[Array[Double]],
      links: Array[Link], skip: Array[Boolean] = null): Array[Pass] = {
    val tri = k * (k + 1) / 2
    val blk = k + tri + 3
    val out = DriverLinalg.treeSum(rows, thetas.length * blk) { (buf, row) =>
      val g = row.g
      if (skip == null || !skip(g)) {
        val (r, rp) = links(g).rAndSlope(margin(row, thetas(g), k))
        val off = g * blk
        val w0 = row.w0
        val wr = w0 * r
        val wrp = w0 * rp
        addScaled(buf, off, k, row.idx, row.vals, wr)
        if (wrp != 0.0) addPacked(buf, off + k, k, row.idx, row.vals, wrp)
        buf(off + k + tri) += kl(w0, r)
        buf(off + k + tri + 1) += wr
        buf(off + k + tri + 2) += 1.0
      }
    }
    Array.tabulate(thetas.length) { g =>
      val off = g * blk
      Pass(
        s = java.util.Arrays.copyOfRange(out, off, off + k),
        gram = java.util.Arrays.copyOfRange(out, off + k, off + k + tri),
        fval = out(off + k + tri),
        wrsum = out(off + k + tri + 1),
        count = out(off + k + tri + 2).toLong)
    }
  }

  /**
   * One partition compiled against its own Gram pattern: the rows as CSR
   * arrays (`rowPtr`, `idx`, `vals`, `w0`) with each row's group (`grp`),
   * the strictly ascending local Gram keys (g*k + i)*k + j (i <= j; every
   * row of a single problem is group 0, so its keys are i*k+j), and one
   * slot per row contribution (each pair p <= q of a row's entries, in
   * row order) giving its key's rank among `keys`. Dense rows keep their
   * nonzero entries; sparse rows keep every listed index, zeros included,
   * as [[GramTable.addRow]] does. The pattern is structural: it does not
   * depend on theta or the link.
   */
  final class GramBlock(
      val rowPtr: Array[Int], val idx: Array[Int], val vals: Array[Double],
      val w0: Array[Double], val grp: Array[Int], val keys: Array[Long],
      val slots: Array[Int])
    extends Serializable

  /** Compiles one partition's rows into a [[GramBlock]]. Slots come
   * from the key index's own probe (id -> sorted rank), not from a
   * search over the sorted keys. */
  def compileBlock(rows: Iterator[EbwRow], k: Int): GramBlock = {
    val rowPtr = Array.newBuilder[Int]
    val idx = Array.newBuilder[Int]
    val vals = Array.newBuilder[Double]
    val w0 = Array.newBuilder[Double]
    val grp = Array.newBuilder[Int]
    val slots = Array.newBuilder[Int]
    val index = new KeyIndex
    val denseI = new Array[Int](k)
    val denseV = new Array[Double](k)
    var nnz = 0
    rowPtr += 0
    while (rows.hasNext) {
      val row = rows.next()
      var ri = row.idx
      var rv = row.vals
      var len = if (ri == null) 0 else ri.length
      if (ri == null) {
        var j = 0
        while (j < k) {
          if (rv(j) != 0.0) { denseI(len) = j; denseV(len) = rv(j); len += 1 }
          j += 1
        }
        ri = denseI
        rv = denseV
      }
      val gBase = row.g.toLong * k
      var p = 0
      while (p < len) {
        idx += ri(p)
        vals += rv(p)
        val base = (gBase + ri(p)) * k
        var q = p
        while (q < len) { slots += index.idOf(base + ri(q)); q += 1 }
        p += 1
      }
      nnz += len
      rowPtr += nnz
      w0 += row.w0
      grp += row.g
    }
    val keys = index.sortedKeys()
    val rank = index.ranks(keys)
    val sl = slots.result()
    var c = 0
    while (c < sl.length) { sl(c) = rank(sl(c)); c += 1 }
    new GramBlock(rowPtr.result(), idx.result(), vals.result(), w0.result(),
      grp.result(), keys, sl)
  }

  /**
   * The large-k Gram of one solve, split into a symbolic part built once
   * and numeric passes: `blocks` caches each partition as a
   * [[GramBlock]] (persisted by the first [[runPattern]] job, inside
   * that pass), so every pass after it only fills each partition's
   * values over its cached local keys — no hashing, no sort.
   *
   * `direct` picks the reduction. When it holds (every partial reaches
   * the driver unmerged anyway: EbwSizing.Plan.direct), one job collects
   * the partials by partition index and the driver adds them in
   * partition-index order. The first pass ships each partition's local
   * keys with its values and sums them with a [[GramSum]]; the merged
   * keys and a per-partition local -> global index map (a linear
   * merge-walk) are kept, so later passes ship values only (8 B per local
   * entry) and add them through the maps. s, fval, wrsum and the Gram
   * are then bit-reproducible for a fixed partitioning.
   * Otherwise each partition's values ship as a [[SortedGram]] over its
   * local keys into the keyed `treeAggregate` + [[GramSum]] reduction at
   * `depth`. The owner releases the cache with [[release]].
   */
  final class SparsePattern private[EbwAggregator] (
      val blocks: RDD[GramBlock], val depth: Int, val direct: Boolean) {
    /** The merged Gram's keys and each partition's local -> global index
     * map (direct reduction; set by the first pass). */
    private[EbwAggregator] var keys: Array[Long] = null
    private[EbwAggregator] var maps: Array[Array[Int]] = null

    def release(): Unit = blocks.unpersist(false)
  }

  /** The (not yet materialized) cached pattern of `rows`. */
  def sparsePattern(rows: RDD[EbwRow], k: Int, depth: Int,
      direct: Boolean): SparsePattern = {
    val blocks = rows.mapPartitions(it => Iterator(compileBlock(it, k)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    blocks.setName(s"ebw-gram-pattern-k$k")
    new SparsePattern(blocks, depth, direct)
  }

  /**
   * Large-k pass: the same statistics as [[run]], one [[Pass]] per group
   * at `thetas(g)` under `links(g)` (rows of the groups `skip` marks add
   * nothing; null skips none), with each group's Gram kept sparse over
   * its realized cross pattern (keyed i*k+j, i <= j, `gramKeys` strictly
   * ascending). For group-dummy / interaction designs (the reference's
   * "hundreds of thousands of constraints" regime) the Gram has O(k) to
   * O(k * nnz_row) entries, not k^2. Paired with the driver-side CG solve
   * in DriverLinalg.
   */
  def runPattern(pat: SparsePattern, k: Int, thetas: Array[Array[Double]],
      links: Array[Link], skip: Array[Boolean] = null): Array[Pass] = {
    val nG = thetas.length
    if (!pat.direct) {
      val out = pat.blocks.map { b =>
        val part = fillBlock(b, k, thetas, links, skip, withKeys = false)
        new SparsePartial(part.stats, new GramSum().add(SortedGram(b.keys, part.vals)))
      }.treeAggregate(new SparsePartial(new Array[Double](nG * (k + 3)), new GramSum()))(
        _ merge _, _ merge _, pat.depth)
      return groupPasses(out.stats, k, out.gram.result)
    }
    val first = pat.keys == null
    val parts = new Array[BlockPartial](pat.blocks.getNumPartitions)
    pat.blocks.sparkContext.runJob(pat.blocks,
      (it: Iterator[GramBlock]) =>
        fillBlock(it.next(), k, thetas, links, skip, withKeys = first),
      (i: Int, part: BlockPartial) => parts(i) = part)
    val stats = new Array[Double](nG * (k + 3))
    parts.foreach(part => DriverLinalg.addInto(stats, part.stats))
    val gram =
      if (first) {
        val sum = new GramSum()
        parts.foreach(part => sum.add(SortedGram(part.keys, part.vals)))
        val merged = sum.result
        pat.keys = merged.keys
        pat.maps = parts.map(part => rankIn(part.keys, merged.keys))
        merged.vals
      } else {
        val g = new Array[Double](pat.keys.length)
        var p = 0
        while (p < parts.length) {
          val vals = parts(p).vals
          val map = pat.maps(p)
          var i = 0
          while (i < map.length) { g(map(i)) += vals(i); i += 1 }
          p += 1
        }
        g
      }
    groupPasses(stats, k, SortedGram(pat.keys, gram))
  }

  /** One [[Pass]] per group: group g's statistics block [s(k), fval,
   * wrsum, count] and its run of the Gram's keys [g*k*k, (g+1)*k*k),
   * re-based to i*k+j (a single problem's is the merged Gram itself). */
  private def groupPasses(stats: Array[Double], k: Int,
      gram: SortedGram): Array[Pass] = {
    val nG = stats.length / (k + 3)
    val span = k.toLong * k
    Array.tabulate(nG) { g =>
      val off = g * (k + 3)
      val gg = if (nG == 1) gram else gram.slice(g * span, (g + 1) * span)
      Pass(java.util.Arrays.copyOfRange(stats, off, off + k), null, stats(off + k),
        stats(off + k + 1), stats(off + k + 2).toLong, gg.keys, gg.vals)
    }
  }

  /** One block's statistics at each group's theta: per group a block
   * [s(k), fval, wrsum, count], and the Gram values over the block's
   * local keys (shipped with them when `withKeys`). Rows whose slope is 0
   * (clipped under the elastic link) and rows of skipped groups add
   * nothing to keys that exist. */
  private def fillBlock(b: GramBlock, k: Int, thetas: Array[Array[Double]],
      links: Array[Link], skip: Array[Boolean], withKeys: Boolean): BlockPartial = {
    val st = new Array[Double](thetas.length * (k + 3))
    val g = new Array[Double](b.keys.length)
    val idx = b.idx
    val vals = b.vals
    val slots = b.slots
    val n = b.w0.length
    var c = 0
    var row = 0
    while (row < n) {
      val lo = b.rowPtr(row)
      val hi = b.rowPtr(row + 1)
      val grp = b.grp(row)
      var wrp = 0.0
      if (skip == null || !skip(grp)) {
        val theta = thetas(grp)
        val off = grp * (k + 3)
        var t = 0.0
        var p = lo
        while (p < hi) { t += vals(p) * theta(idx(p)); p += 1 }
        val (r, rp) = links(grp).rAndSlope(t)
        val w0 = b.w0(row)
        val wr = w0 * r
        st(off + k) += kl(w0, r)
        st(off + k + 1) += wr
        st(off + k + 2) += 1.0
        p = lo
        while (p < hi) { st(off + idx(p)) += wr * vals(p); p += 1 }
        wrp = w0 * rp
      }
      if (wrp == 0.0) c += (hi - lo) * (hi - lo + 1) / 2
      else {
        var p = lo
        while (p < hi) {
          val wv = wrp * vals(p)
          var q = p
          while (q < hi) { g(slots(c)) += wv * vals(q); c += 1; q += 1 }
          p += 1
        }
      }
      row += 1
    }
    new BlockPartial(st, if (withKeys) b.keys else null, g)
  }

  /** Each of `local`'s keys' index in `global` (both strictly ascending,
   * `local` a subset), by one linear merge-walk. */
  private def rankIn(local: Array[Long], global: Array[Long]): Array[Int] = {
    val out = new Array[Int](local.length)
    var g = 0
    var i = 0
    while (i < local.length) {
      while (global(g) != local(i)) g += 1
      out(i) = g
      i += 1
    }
    out
  }

  /** One block's statistics: the per-group blocks [s(k), fval, wrsum,
   * count] and the Gram as values over its local keys (`keys` set on a
   * solve's first direct-reduction pass only). */
  private final class BlockPartial(
      val stats: Array[Double], val keys: Array[Long], val vals: Array[Double])
    extends Serializable

  /** One partition's (or merged subtree's) keyed large-k statistics;
   * `merge` sums `o` into this one. */
  private final class SparsePartial(
      val stats: Array[Double], val gram: GramSum) extends Serializable {
    def merge(o: SparsePartial): SparsePartial = {
      DriverLinalg.addInto(stats, o.stats)
      gram.addAll(o.gram)
      this
    }
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
    val out = DriverLinalg.treeSum(rows, k + 3) { (buf, row) =>
      val (r, _) = lk.rAndSlope(margin(row, th, k))
      val w0 = row.w0
      val wr = w0 * r
      addScaled(buf, 0, k, row.idx, row.vals, wr)
      buf(k) += kl(w0, r)
      buf(k + 1) += wr
      buf(k + 2) += 1.0
    }
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
   * one [[GramTable]] and streams its entries out as (key, value) pairs;
   * a reduceByKey merges them ACROSS EXECUTORS and
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
    val out = DriverLinalg.treeSum(rows, tri + k) { (buf, rowAndRatio) =>
      val (row, ratio) = rowAndRatio
      // defensive row guard: the solver validates the same frame
      // separately, but this pass must never AIOOBE on its own
      if (ratio > 0.0 && !ratio.isInfinite && !ratio.isNaN &&
          rowNnz(row.idx, row.vals, row.w0, k) >= 0) {
        val w0 = row.w0
        addScaled(buf, tri, k, row.idx, row.vals, w0 * math.log(ratio))
        addPacked(buf, 0, k, row.idx, row.vals, w0)
      }
    }
    (java.util.Arrays.copyOfRange(out, 0, tri),
      java.util.Arrays.copyOfRange(out, tri, tri + k))
  }

  /** Validation + sizing pass of every solver, single (`nG` = 1) and
   * grouped: returns (badRows, sumW, n, sumPairs) with sumW(g) the w0
   * sum of group g's valid rows and sumPairs = Σ_i nnz_i(nnz_i+1)/2 over
   * each row's [[rowNnz]] — the total Gram-entry contributions (Σ slots
   * of the compiled [[GramBlock]]s), the input to EbwSizing's
   * partition/depth/mode heuristic (counted in the same scan that checks
   * finiteness, so sizing costs nothing extra). One job; the
   * per-partition sums are added in partition order, so every sum
   * repeats for a fixed partitioning. */
  def validate(rows: RDD[EbwRow], k: Int,
      nG: Int): (Long, Array[Double], Long, Long) = {
    val parts = new Array[Array[Double]](rows.getNumPartitions)
    // [bad, n, sumPairs, sumW(0 until nG)]
    rows.sparkContext.runJob(rows, (it: Iterator[EbwRow]) => {
      val buf = new Array[Double](3 + nG)
      while (it.hasNext) {
        val row = it.next()
        val nnz = rowNnz(row.idx, row.vals, row.w0, k)
        if (nnz < 0) buf(0) += 1.0
        else {
          buf(3 + row.g) += row.w0
          buf(2) += nnz.toDouble * (nnz + 1) / 2
        }
        buf(1) += 1.0
      }
      buf
    }, (i: Int, buf: Array[Double]) => parts(i) = buf)
    val out = new Array[Double](3 + nG)
    parts.foreach(DriverLinalg.addInto(out, _))
    (out(0).toLong, java.util.Arrays.copyOfRange(out, 3, 3 + nG),
      out(1).toLong, out(2).toLong)
  }

  /** The row-validity predicate of every solver, single and grouped:
   * -1 when the row is invalid (NaN, infinite or non-positive w0;
   * missing or malformed features; a non-finite feature value), else the
   * number of entries the row contributes to the Gram: a dense row's
   * nonzeros, a sparse row's listed indices, zeros included (the Gram
   * paths skip a dense row's zeros and key every listed sparse index).
   * Mirrors the reference's inputs_are_invalid (shared.py:105-133). */
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
    if (idx == null) nnz else vals.length
  }
}
