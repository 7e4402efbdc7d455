package graft.ebw

import org.apache.spark.sql.DataFrame

/**
 * Solver options, mirroring the reference option dictionary
 * (/root/reference/entropy_balance_weighting/ebw_routines.py:62-99).
 *
 * Differences from the reference, due to the distributed re-design:
 *  - `initialMultipliers` replaces `initial_ratio_guess`: warm starts are
 *    expressed in the k-dim dual space (the only solver state we keep),
 *    not as an N-vector of primal ratios.
 *  - `optimalityTol` is applied relative to max(1, ||aggregate targets||):
 *    the reference assumes inputs "scaled to have mean 1" and uses an
 *    absolute 1e-5; at 100 TB scale the aggregate moments are huge and an
 *    absolute tolerance is meaningless.
 *
 * Reference option-flag mapping (examples/simple_examples.py:23-31):
 *  - `dual_only: True` — no Spark-side flag exists because the solver IS
 *    dual-only by architecture: all state is the k-vector of equality
 *    multipliers and every iteration is one aggregation pass; there is no
 *    primal N-vector path to toggle off (the primal-dual elastic machinery
 *    engages only under `bounds`, matching the reference's routing in
 *    ebw_routines.py:166-172).
 *  - `force_dense: False` — the dense/sparse switch here is
 *    [[EbwOptions.denseGramMax]]: `k <= denseGramMax` aggregates the packed
 *    dense Gram and Cholesky-solves (the reference's dense path);
 *    `k > denseGramMax` aggregates the sparse Gram and CG-solves (the
 *    reference's MKL+Pardiso sparse path). Set `denseGramMax = Int.MaxValue`
 *    to force dense, `0` to force sparse.
 */
final case class EbwOptions(
    maxSteps: Int = 30,
    maxStepsBounded: Int = 100,
    bounds: Option[(Double, Option[Double])] = None,
    initialMultipliers: Option[Array[Double]] = None,
    /** Primal warm start, the reference's `initial_ratio_guess`
     * (ebw_routines.py:206): name of a column holding a per-row ratio
     * guess r0 = w_guess/w0. The solver projects log(r0) onto span(X) with
     * one weighted-least-squares pass to seed the dual multipliers.
     * Ignored when `initialMultipliers` is given explicitly. */
    initialRatioGuessCol: Option[String] = None,
    optimalityTol: Double = 1e-5,
    stepTol: Double = 1e-8,
    eta: Option[Double] = None,
    saveProblemData: Option[String] = None,
    saveFailureData: Option[String] = None,
    /** Above this moment dimension the Gram is aggregated sparsely and the
     * Newton systems solved by preconditioned CG (see SURVEY.md §3). */
    denseGramMax: Int = 512,
    /** Sparse-path Gram placement (k > denseGramMax only):
     *  - "auto": EbwSizing decides per problem from the measured row
     *    density (validation pass) vs this driver's maxResultSize/heap
     *    budget — driver-merged Gram when it fits, distributed otherwise.
     *  - "driver": always merge the Gram on the driver (fastest per
     *    Newton step); fails fast with a sized, actionable error when the
     *    merged Gram cannot fit, instead of OOMing mid-solve.
     *  - "distributed": Gram stays an RDD (reduceByKey across executors)
     *    and Newton directions come from CG with distributed matvecs —
     *    O(k) driver traffic per CG iteration, no driver ceiling at any
     *    N·nnz².
     * Every solve checks the value at entry, dense route included. */
    gramMode: String = "auto",
    /** Grouped distributed-Gram tier only: how many per-group
     * single-problem solves run CONCURRENTLY when the groups shard
     * (GroupedEntropyBalance.solveSharded). Each solve is its own
     * sequence of aggregation passes and distributed CG jobs with
     * driver-side linalg gaps between them; co-scheduling a bounded
     * number fills those gaps and
     * shares the executors, so G groups cost far less than G sequential
     * walls. Driver memory per concurrent solve is the single-problem
     * O(k) envelope, so the bound multiplies that envelope — keep it
     * small. 1 restores the round-14 sequential behavior. Every solve
     * checks it (at least 1) at entry, whatever its route. */
    shardParallelism: Int = 4)

/**
 * Result container, mirroring `EntropyBalanceResults`
 * (/root/reference/entropy_balance_weighting/shared.py:15-38) with one
 * Spark-native change: the new weights are not a driver-side array but a
 * DataFrame (`weighted` = input plus the output weight column), computed
 * lazily as w0 * r(x . multipliers) — no N-sized collect ever happens.
 */
final case class EbwResult(
    weighted: DataFrame,
    failureWeighted: DataFrame,
    converged: Boolean,
    nIterations: Int,
    constraintViolations: Array[Double],
    equalityMultipliers: Array[Double],
    eta: Option[Double] = None,
    criterionValue: Double = 0.0,
    errorMessage: String = "",
    /** Elastic mode only: multipliers of the u/v moment-slack bounds,
     * (1-lambda, 1+lambda) — reference's moment_slack_multipliers_estimate
     * (ebw_routines.py:639-641). */
    momentSlackMultipliers: Option[Array[Double]] = None,
    private[graft] val theta: Array[Double] = Array.empty,
    private[graft] val link: Link = Link.exp)

/** One-pass evaluation at fixed multipliers — `criterion` (shared.py:41)
 * parity. criterionValue = sum(w0 (r ln r - r + 1)) with r = exp(x.lambda);
 * constraintViolations = A'w(lambda) - m sum(w0). */
final case class EbwEvaluation(
    criterionValue: Double,
    constraintViolations: Array[Double],
    violationNorm: Double,
    weightTotal: Double)

/** One observation: features (sparse iff idx != null, sorted indices),
 * initial weight, and the row's group (0 for a single problem). */
private[ebw] final case class EbwRow(
    idx: Array[Int], vals: Array[Double], w0: Double, g: Int = 0)

/**
 * Per-row primal map r(t), t = x . theta, of every solver mode: r =
 * clip(exp(eta * t), lb, ub), dr/dt = eta * exp(eta * t) on the interior
 * and 0 where clipped. One aggregation kernel serves them all:
 *   unbounded dual   [[Link.exp]] = (1, 0, inf): r = exp(t), dr/dt = r
 *   elastic/bounded  (eta, lb, ub): box-projected dual, auto-grown eta
 *   penalty          (-1, lb, ub): clip(exp(-t), lb, ub) (lb = 0, ub = inf
 *                    when unbounded); its aggregated Gram is dS/dz = -G.
 */
private[graft] final case class Link(eta: Double, lb: Double, ub: Double) {
  /** (r, dr/dt) at t = x . theta — THE shared per-row evaluation for every
   * solver mode (exp inputs capped at 700 to stay finite; the driver line
   * searches reject divergent trials). Under [[Link.exp]] this is
   * (exp(min(t, 700)), same) bit for bit: 1.0 * t == t and the clip is
   * inert. A NaN t gives (NaN, 0). (Double, Double) tuples are
   * @specialized, so the JIT scalar-replaces them in the hot loops. */
  @inline def rAndSlope(t: Double): (Double, Double) = {
    var et = eta * t
    if (et > 700.0) et = 700.0
    val e = math.exp(et)
    val r = if (e < lb) lb else if (e > ub) ub else e
    (r, if (e > lb && e < ub) eta * e else 0.0)
  }

  /** Ratio only (driver-side column fallback paths). */
  @inline def r(t: Double): Double = rAndSlope(t)._1
}

private[graft] object Link {
  def exp: Link = Link(1.0, 0.0, Double.PositiveInfinity)
}
