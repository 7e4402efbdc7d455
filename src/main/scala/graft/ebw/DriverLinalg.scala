package graft.ebw

import org.apache.spark.rdd.RDD

/**
 * Driver-side dense linear algebra for the k x k Newton systems (k << N).
 * Plays the role of pypardiso/scipy solves in the reference
 * (ebw_routines.py:242-257): Cholesky with the same escalate-ridge-by-10x
 * retry on indefiniteness, which is also what makes collinear moment
 * columns harmless (test_colinear.py relies on exactly this behavior).
 */
private[ebw] object DriverLinalg {

  /** a += b elementwise; returns a. */
  def addInto(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  /** The array-sum reduction of the dense EBW passes and of
   * [[cgSolveRdd]]'s matvecs: `add` folds each element into its task's
   * zeroed `size`-array, and a depth-2 `treeAggregate` sums the task
   * arrays. It lives here, not in EbwAggregator, because jobs are
   * attributed by the frames that launch them: a matvec job must not run
   * under an EbwAggregator frame. */
  def treeSum[T](rdd: RDD[T], size: Int)(
      add: (Array[Double], T) => Unit): Array[Double] =
    rdd.treeAggregate(new Array[Double](size))(
      (buf, x) => { add(buf, x); buf }, addInto, depth = 2)

  /** The row and column index of each sparse Gram key i*k+j. */
  def decode(k: Int, keys: Array[Long]): (Array[Int], Array[Int]) = {
    val rows = new Array[Int](keys.length)
    val cols = new Array[Int](keys.length)
    var p = 0
    while (p < keys.length) {
      rows(p) = (keys(p) / k).toInt
      cols(p) = (keys(p) % k).toInt
      p += 1
    }
    (rows, cols)
  }

  /** Solve (sign*G + diag + ridge*I) x = rhs, G packed upper-triangular
   * SPD-ish, over the `free` coordinates (ascending; all k when null),
   * zeros elsewhere. `diag` is an extra per-coordinate diagonal (the
   * penalty solver's P^-1); `sign` scales
   * the Gram as in [[cgSolve]] (-1 for the penalty system whose
   * aggregated dS/dz = -G) and is applied as the packed Gram is copied
   * into the system, so no negated Gram copy is ever made. */
  def solveWithDiag(
      k: Int,
      packed: Array[Double],
      diag: Array[Double],
      rhs: Array[Double],
      ridge0: Double,
      sign: Double = 1.0,
      free: Array[Int] = null): Array[Double] = {
    val idx = if (free == null) Array.range(0, k) else free
    val m = idx.length
    val out = new Array[Double](k)
    if (m == 0) return out
    var ridge = ridge0
    var attempts = 0
    while (attempts < 16) {
      val a = Array.ofDim[Double](m, m)
      val b = new Array[Double](m)
      var ii = 0
      while (ii < m) {
        val gi = idx(ii)
        b(ii) = rhs(gi)
        var jj = ii
        while (jj < m) {
          val v = sign * packed(EbwAggregator.pidx(k, gi, idx(jj)))
          a(ii)(jj) = v
          a(jj)(ii) = v
          jj += 1
        }
        a(ii)(ii) += diag(gi) + ridge
        ii += 1
      }
      val x = cholSolve(a, b)
      if (x != null) {
        var p = 0
        while (p < m) { out(idx(p)) = x(p); p += 1 }
        return out
      }
      ridge = math.max(ridge, 1e-12) * 10.0
      attempts += 1
    }
    throw new ArithmeticException("EBW Newton system is numerically singular")
  }

  /** In-place Cholesky solve; returns null if not positive definite. */
  private def cholSolve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = a.length
    // factor: a(i)(j) for j<=i holds L
    var i = 0
    while (i < n) {
      var j = 0
      while (j <= i) {
        var s = a(i)(j)
        var p = 0
        while (p < j) { s -= a(i)(p) * a(j)(p); p += 1 }
        if (i == j) {
          if (s <= 0.0 || s.isNaN) return null
          a(i)(i) = math.sqrt(s)
        } else {
          a(i)(j) = s / a(j)(j)
        }
        j += 1
      }
      i += 1
    }
    // forward: L y = b
    val y = new Array[Double](n)
    i = 0
    while (i < n) {
      var s = b(i)
      var p = 0
      while (p < i) { s -= a(i)(p) * y(p); p += 1 }
      y(i) = s / a(i)(i)
      i += 1
    }
    // backward: L^T x = y
    val x = new Array[Double](n)
    i = n - 1
    while (i >= 0) {
      var s = y(i)
      var p = i + 1
      while (p < n) { s -= a(p)(i) * x(p); p += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    x
  }

  /**
   * Jacobi-preconditioned conjugate gradient for the large-k regime:
   * solve (sign*G + diag + ridge*I) x = rhs where G is the SPARSE upper-tri
   * Gram from EbwAggregator.runPattern, given as entries (rows(p),
   * cols(p), vals(p)) with rows(p) <= cols(p) (any order, repeats add
   * up): the keys i*k+j [[decode]]d by the caller, which keeps the decode
   * for as long as the keys stay the same array. Plays the role of
   * pypardiso.spsolve in the reference (ebw_routines.py:242-245) without
   * needing a sparse direct factorization on the driver. `sign` scales
   * the Gram as in [[cgSolveRdd]] (-1 for the penalty system whose
   * aggregated dS/dz = -G). `free` masks pinned coordinates (elastic
   * box): masked rows/cols behave as identity.
   */
  def cgSolve(
      k: Int,
      rows: Array[Int],
      cols: Array[Int],
      vals: Array[Double],
      diag: Array[Double],
      rhs: Array[Double],
      ridge: Double,
      free: Array[Boolean],
      sign: Double = 1.0): Array[Double] = {
    val nnz = vals.length
    @inline def isFree(i: Int): Boolean = free == null || free(i)
    val precond = new Array[Double](k)
    var i = 0
    while (i < k) { precond(i) = diag(i) + ridge; i += 1 }
    var p0 = 0
    while (p0 < nnz) {
      if (rows(p0) == cols(p0)) precond(rows(p0)) += sign * vals(p0)
      p0 += 1
    }
    i = 0
    while (i < k) { if (precond(i) <= 0.0) precond(i) = math.max(ridge, 1e-12); i += 1 }

    def mv(x: Array[Double]): Array[Double] = {
      val out = new Array[Double](k)
      var p = 0
      while (p < nnz) {
        val a = rows(p)
        val b = cols(p)
        if (isFree(a) && isFree(b)) {
          val v = sign * vals(p)
          out(a) += v * x(b)
          if (a != b) out(b) += v * x(a)
        }
        p += 1
      }
      var q = 0
      while (q < k) {
        if (isFree(q)) out(q) += (diag(q) + ridge) * x(q) else out(q) = x(q)
        q += 1
      }
      out
    }

    val b = rhs.clone()
    i = 0
    while (i < k) { if (!isFree(i)) b(i) = 0.0; i += 1 }
    val x = new Array[Double](k)
    var r = b.clone()
    val z = new Array[Double](k)
    i = 0
    while (i < k) { z(i) = r(i) / precond(i); i += 1 }
    var p = z.clone()
    var rz = dot(r, z)
    val bnorm = math.max(norm2(b), 1e-300)
    var iter = 0
    val maxIter = math.min(2 * k + 20, 4000)
    while (iter < maxIter && norm2(r) > 1e-12 * bnorm) {
      val ap = mv(p)
      val pap = dot(p, ap)
      if (pap <= 0.0 || pap.isNaN) {
        iter = maxIter // breakdown: return best-so-far (ridge guards PD)
      } else {
        val alpha = rz / pap
        var j = 0
        while (j < k) { x(j) += alpha * p(j); r(j) -= alpha * ap(j); j += 1 }
        j = 0
        while (j < k) { z(j) = r(j) / precond(j); j += 1 }
        val rzNew = dot(r, z)
        val beta = rzNew / rz
        rz = rzNew
        j = 0
        while (j < k) { p(j) = z(j) + beta * p(j); j += 1 }
        iter += 1
      }
    }
    x
  }

  /**
   * Jacobi-preconditioned CG with DISTRIBUTED matvecs — the
   * no-driver-ceiling companion of [[cgSolve]] for the regime where the
   * merged sparse Gram exceeds the driver budget (EbwSizing decides).
   * `gram` is the upper-tri Gram as an RDD of (i*k+j, value), i <= j
   * (EbwAggregator.gramRdd, caller-persisted). Each CG iteration
   * broadcasts the k-vector p and tree-aggregates the k-vector G·p:
   * driver traffic is O(k) per iteration regardless of Gram size.
   * `sign` scales the Gram (+1 normal; -1 for the penalty system whose
   * aggregated dS/dz = -G). Masked (`free`) coordinates behave as
   * identity rows, as in cgSolve.
   *
   * Math note: identical update sequence to cgSolve, but the partial-sum
   * ORDER inside the distributed matvec differs from the driver loop, so
   * results agree to fp-accumulation tolerance, not bit-exactly — the
   * parity spec asserts 1e-8 relative agreement.
   */
  def cgSolveRdd(
      gram: RDD[(Long, Double)],
      k: Int,
      diag: Array[Double],
      rhs: Array[Double],
      ridge: Double,
      free: Array[Boolean],
      sign: Double = 1.0,
      maxIterOverride: Int = 0): Array[Double] = {
    val sc = gram.sparkContext
    @inline def isFree(i: Int): Boolean = free == null || free(i)
    val kk = k
    val sg = sign
    // Jacobi preconditioner: Gram diagonal in ONE aggregation pass
    val gdiag = treeSum(gram, kk) { (buf, kv) =>
      val i = (kv._1 / kk).toInt
      if ((kv._1 % kk).toInt == i) buf(i) += sg * kv._2
    }
    val precond = new Array[Double](k)
    var i = 0
    while (i < k) {
      precond(i) = gdiag(i) + diag(i) + ridge
      if (precond(i) <= 0.0) precond(i) = math.max(ridge, 1e-12)
      i += 1
    }
    val freeBc = if (free == null) null else sc.broadcast(free)

    def mv(x: Array[Double]): Array[Double] = {
      val xb = sc.broadcast(x)
      try {
        val gx = treeSum(gram, kk) { (buf, kv) =>
          val key = kv._1
          val a = (key / kk).toInt
          val b = (key % kk).toInt
          val fa = if (freeBc == null) true else freeBc.value(a)
          val fb = if (freeBc == null) true else freeBc.value(b)
          if (fa && fb) {
            val v = sg * kv._2
            val xv = xb.value
            buf(a) += v * xv(b)
            if (a != b) buf(b) += v * xv(a)
          }
        }
        var q = 0
        while (q < kk) {
          if (isFree(q)) gx(q) += (diag(q) + ridge) * x(q) else gx(q) = x(q)
          q += 1
        }
        gx
      } finally xb.destroy()
    }

    try {
      val b = rhs.clone()
      i = 0
      while (i < k) { if (!isFree(i)) b(i) = 0.0; i += 1 }
      val x = new Array[Double](k)
      val r = b.clone()
      val z = new Array[Double](k)
      i = 0
      while (i < k) { z(i) = r(i) / precond(i); i += 1 }
      var p = z.clone()
      var rz = dot(r, z)
      val bnorm = math.max(norm2(b), 1e-300)
      var iter = 0
      // each iteration is a Spark job: converge to Newton-inner accuracy
      // (1e-10 relative), not the driver loop's 1e-12 — the outer Newton
      // line-search absorbs the difference
      val maxIter =
        if (maxIterOverride > 0) maxIterOverride
        else math.min(2 * k + 20, 1000)
      while (iter < maxIter && norm2(r) > 1e-10 * bnorm) {
        val ap = mv(p)
        val pap = dot(p, ap)
        if (pap <= 0.0 || pap.isNaN) {
          iter = maxIter
        } else {
          val alpha = rz / pap
          var j = 0
          while (j < k) { x(j) += alpha * p(j); r(j) -= alpha * ap(j); j += 1 }
          j = 0
          while (j < k) { z(j) = r(j) / precond(j); j += 1 }
          val rzNew = dot(r, z)
          val beta = rzNew / rz
          rz = rzNew
          j = 0
          while (j < k) { p(j) = z(j) + beta * p(j); j += 1 }
          iter += 1
        }
      }
      // A capped (or breakdown-truncated) exit returns a PARTIALLY
      // converged Newton direction — legal (the outer line search
      // absorbs it) but it must be diagnosable at N=1e7 scale, not
      // silent: without this line the only symptom is slower/failed
      // OUTER convergence with no pointer back here.
      val rn = norm2(r)
      if (rn > 1e-10 * bnorm) {
        EbwLog.warn(f"cgSolveRdd stopped at iter=$iter/$maxIter with " +
          f"relative residual ${rn / bnorm}%.3e > 1e-10 (k=$k): Newton " +
          "direction partially converged; outer line search will absorb " +
          "it, but persistent hits mean an ill-conditioned moment system")
      }
      x
    } finally if (freeBc != null) freeBc.destroy()
  }

  @inline def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  @inline def norm2(a: Array[Double]): Double = math.sqrt(dot(a, a))

  def axpy(alpha: Double, x: Array[Double], y: Array[Double]): Array[Double] = {
    val out = new Array[Double](y.length)
    var i = 0
    while (i < y.length) { out(i) = y(i) + alpha * x(i); i += 1 }
    out
  }
}
