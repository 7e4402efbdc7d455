package graft.ebw

import org.apache.spark.storage.StorageLevel

import EbwAggregator.Pass

/**
 * The dual Newton kernel every EBW mode runs on, single and grouped
 * (SURVEY.md §3): one prepared problem (cached rows, k) and its Gram
 * route — dense (no `plan`), sparse merged on the driver, or
 * `distributed`. Each mode keeps only its own math (objective and
 * acceptance test, box projection with eta growth, fixed point, the
 * grouped solvers' damped per-group steps) and reaches the data through
 * three calls:
 *  - [[pass]]: one aggregation pass at theta ([[passes]]: at every
 *    group's theta, one pass for all groups);
 *  - [[direction]]: one Newton system solve;
 *  - [[backtrack]]: the halving line search, one pass per trial.
 * On the sparse-driver route the kernel owns the solve's cached Gram
 * pattern (EbwAggregator.SparsePattern): the first pass compiles it,
 * later passes only fill values, and [[release]] drops it. It also keeps
 * the merged Gram's keys decoded into row and column indices until the
 * keys change.
 * It lives on the driver: RDD closures only ever see the arrays and links
 * it passes down to EbwAggregator.
 */
private[ebw] final class NewtonKernel(
    val prep: EntropyBalance.Prepared,
    plan: Option[EbwSizing.Plan],
    val distributed: Boolean) {
  import NewtonKernel.Step

  val k: Int = prep.k
  private def rows = prep.rows
  private var pattern: EbwAggregator.SparsePattern = null
  /** The last sparse Gram keys [[direction]] decoded, and their row and
   * column indices: the direct reduction hands every pass of a single
   * problem the same keys array, so it decodes once per solve. */
  private var decodedKeys: Array[Long] = null
  private var keyRows: Array[Int] = null
  private var keyCols: Array[Int] = null

  /** s, fval, wrsum and the Gram of each group g at `thetas(g)` under
   * `links(g)`, skipping the rows of the groups `skip` marks (null: none):
   * the packed dense triangle, the key-sorted sparse Gram over the cached
   * pattern (reduced directly or at the plan's tree depth), or — on the
   * distributed route, one problem only — no Gram (line-search trials
   * only need the dual objective; [[direction]] builds the Gram once per
   * accepted iterate). */
  def passes(thetas: Array[Array[Double]], links: Array[Link],
      skip: Array[Boolean]): Array[Pass] = plan match {
    case None => EbwAggregator.run(rows, k, thetas, links, skip)
    case Some(_) if distributed =>
      Array(EbwAggregator.runStats(rows, k, thetas.head, links.head))
    case Some(p) =>
      if (pattern == null)
        pattern = EbwAggregator.sparsePattern(rows, k, p.depth, p.direct)
      EbwAggregator.runPattern(pattern, k, thetas, links, skip)
  }

  /** [[passes]] of a single problem at theta. */
  def pass(theta: Array[Double], link: Link): Pass =
    passes(Array(theta), Array(link), null)(0)

  /** Drops the cached Gram pattern, if a pass built one, and the decoded
   * keys. */
  def release(): Unit = {
    if (pattern != null) { pattern.release(); pattern = null }
    decodedKeys = null; keyRows = null; keyCols = null
  }

  /** Solve (sign*G + diag + ridge*I) d = rhs for the Gram G of `pass` at
   * (theta, link), over the coordinates `free` marks (all when null;
   * masked ones get d = 0): Cholesky on the dense Gram (restricted to the
   * free subset when masked), Jacobi-CG on the driver-merged sparse Gram,
   * or Jacobi-CG with distributed matvecs over the Gram rebuilt at theta
   * as an RDD. */
  def direction(pass: Pass, theta: Array[Double], link: Link,
      rhs: Array[Double], diag: Array[Double], ridge: Double,
      free: Array[Boolean], sign: Double): Array[Double] =
    if (distributed) {
      val g = EbwAggregator.gramRdd(rows, k, theta, link,
          EbwSizing.gramAggParts(plan.get,
            Runtime.getRuntime.maxMemory,
            rows.sparkContext.defaultParallelism))
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      try DriverLinalg.cgSolveRdd(g, k, diag, rhs, ridge, free, sign)
      finally g.unpersist(false)
    } else if (pass.isSparse) {
      if (pass.gramKeys ne decodedKeys) {
        val (r, c) = DriverLinalg.decode(k, pass.gramKeys)
        decodedKeys = pass.gramKeys; keyRows = r; keyCols = c
      }
      DriverLinalg.cgSolve(k, keyRows, keyCols, pass.gramVals, diag, rhs,
        ridge, free, sign)
    }
    else DriverLinalg.solveWithDiag(k, pass.gram, diag, rhs, ridge, sign,
      if (free == null) null else (0 until k).filter(free(_)).toArray)

  /** Backtracking line search: trial steps alpha = 1, 1/2, 1/4, ... (at
   * most `trials`), each costing one pass at the candidate `at(alpha)`;
   * returns the first step `accept` takes, or None. */
  def backtrack(link: Link, trials: Int)(at: Double => Array[Double])(
      accept: Step => Boolean): Option[Step] = {
    var alpha = 1.0
    var trial = 0
    while (trial < trials) {
      val theta = at(alpha)
      val step = Step(alpha, theta, pass(theta, link))
      if (accept(step)) return Some(step)
      alpha /= 2.0
      trial += 1
    }
    None
  }
}

private[ebw] object NewtonKernel {
  /** One line-search trial: step length, candidate iterate and its pass. */
  final case class Step(alpha: Double, theta: Array[Double], pass: Pass)
}
