package graft.ebw

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.storage.StorageLevel

import DriverLinalg.{axpy, norm2}

/**
 * Many independent EBW problems solved simultaneously — the "per-state /
 * per-domain calibration" pattern (reference examples/pums_example.py does
 * ONE big joint problem; at pipeline scale you often need thousands of
 * independent small ones, e.g. per-source reweighting of training data).
 *
 * All groups advance together: each Newton round is ONE aggregation pass
 * over the full dataset computing every group's (Ce, Gram) — G problems
 * cost one scan, not G scans. The rows are the single solver's
 * [[EbwRow]]s tagged with their group, validated, sized and solved by
 * the single solver's code: EbwAggregator.validate,
 * EntropyBalance.sizeForSparse and a [[NewtonKernel]], whose
 * NewtonKernel.passes is the round (one block per group, dense or over
 * the cached sparse Gram pattern) and whose direction is each group's
 * solve. Driver state is a k-vector per group; converged groups freeze
 * (their rows stop contributing via a skip mask). The same round loop
 * ([[solveGroups]]) serves the exact solver (dual Newton, optional
 * elastic bounds with per-group auto-eta) and the penalty solver (fixed
 * point z = P(A'Phi(z) - b), link = clip(exp(-t)) i.e. eta = -1); each
 * supplies only its per-group step.
 * The solver owns no broadcasts: per-round iterates and links, the group
 * index and the output multipliers travel in closures.
 */
object GroupedEntropyBalance {

  final case class GroupResult(
      converged: Boolean,
      nIterations: Int,
      multipliers: Array[Double],
      constraintViolations: Array[Double])

  final case class GroupedResult(
      weighted: DataFrame,
      groups: Map[String, GroupResult]) {
    def allConverged: Boolean = groups.values.forall(_.converged)
  }

  // ------------------------------------------------------------ shared plumbing

  /** The rows of the groups in `gIdx` as cached [[EbwRow]]s carrying
   * their group's index; rows of other groups are dropped. */
  private def prepRows(
      df: DataFrame, groupCol: String, featuresCol: String, weightCol: String,
      gIdx: Map[String, Int], k: Int): RDD[EbwRow] = {
    val rows = df
      .select(col(groupCol).cast("string"), col(featuresCol), col(weightCol).cast(DoubleType))
      .rdd
      .flatMap { r =>
        val gname = if (r.isNullAt(0)) null else r.getString(0)
        Option(gname).flatMap(gIdx.get).map { g =>
          val w = if (r.isNullAt(2)) Double.NaN else r.getDouble(2)
          EntropyBalance.toEbwRow(r.get(1), w, g)
        }
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    rows.setName(s"ebw-grouped-${gIdx.size}g-k$k")
    rows
  }

  /** Output stage shared by both solvers: one narrow pass computing
   * w0 * clip(exp(x . mult_g), lb, ub); rows whose group has no targets
   * keep their original weight (ratio 1), UNCLIPPED. */
  private def weightedOutput(
      df: DataFrame, groupCol: String, featuresCol: String, weightCol: String,
      outputCol: String, names: Array[String], mult: Array[Array[Double]],
      lb: Double, ub: Double): DataFrame = {
    val spark = df.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val multByName = names.indices.map(g => names(g) -> mult(g).toSeq).toMap
    val lamCol = udf { (gname: String) =>
      if (gname == null) null else multByName.get(gname).orNull
    }
    val lam = lamCol(col(groupCol).cast("string"))
    val isArr = df.schema(featuresCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.ArrayType]
    val ratio =
      if (isArr)
        when(lam.isNull, lit(1.0))
          .otherwise(call_function("graft_ratio",
            col(featuresCol).cast("array<double>"), lam,
            lit(1.0), lit(lb), lit(ub)))
      else {
        // effective multipliers already absorb eta, so eta = 1 here
        val outLink = Link(1.0, lb, ub)
        val f = udf { (v: org.apache.spark.ml.linalg.Vector, gname: String) =>
          multByName.get(if (gname == null) "" else gname) match {
            case None => 1.0
            case Some(th) =>
              var t = 0.0
              v.foreachActive((i, x) => t += x * th(i))
              outLink.r(t)
          }
        }
        f(col(featuresCol), col(groupCol).cast("string"))
      }
    df.withColumn(outputCol, col(weightCol) * ratio)
  }

  // ------------------------------------------------------------------ public

  /** Re-apply a grouped fit's learned multipliers to fresh data (the
   * graft.pipeline transform bridge): exactly the weightedOutput stage of
   * the solvers — rows of groups absent from `groups` keep their original
   * weight. `groups` carries EFFECTIVE multipliers (eta absorbed), so the
   * ratio is clip(exp(x . mult_g), lb, ub) with eta = 1. */
  private[graft] def applyGroupWeights(
      df: DataFrame, groupCol: String, featuresCol: String, weightCol: String,
      outputCol: String, groups: Map[String, GroupResult],
      lb: Double, ub: Double): DataFrame = {
    val names = groups.keys.toArray.sorted
    val mult = names.map(n => groups(n).multipliers)
    weightedOutput(df, groupCol, featuresCol, weightCol, outputCol, names, mult, lb, ub)
  }

  /** DISTRIBUTED-GRAM tier of the grouped solver: G simultaneous
   * large-k problems would hold G sparse Grams in the shared round pass
   * — the per-task Gram partial and its driver merge scale with the SUM of
   * the groups' realized cross patterns, so at the single-problem
   * distributed-Gram regime (N=1e7 × k=1e5) a handful of groups exhausts
   * the driver budget that one problem already saturates. Routing
   * (decided by the same EbwSizing envelope as the single solver, from
   * the TOTAL Σ nnz(nnz+1)/2 the validation pass measured): shard the
   * groups across single-problem solves (`single`: the exact or penalty
   * solver of EntropyBalance) — each group's rows filter to its own
   * cached RDD and the single solver engages its own distributed-Gram CG
   * (Gram lives as an RDD, O(k) driver traffic per CG iteration, no
   * driver ceiling) — then stitch one GroupedResult.
   * Shards CO-SCHEDULE on a bounded pool (`options.shardParallelism`
   * concurrent solves; Spark's scheduler interleaves their jobs, so one
   * solve's driver-side linalg gap is another's executor time — the
   * 4-group canary spec pins wall << G sequential solves) at the price
   * of multiplying the single-problem O(k) driver envelope by the
   * bound; that envelope is why the groups sharded in the first place,
   * so the bound stays small and configurable down to 1 (the sequential
   * round-14 behavior). Groups with no rows converge trivially
   * (multipliers 0, ratio 1 — the shared-pass behavior). */
  private def solveSharded(
      df: DataFrame, groupCol: String, featuresCol: String,
      weightCol: String, targets: Map[String, Array[Double]],
      outputCol: String, options: EbwOptions, names: Array[String],
      sumW: Array[Double], lb: Double, ub: Double,
      single: (DataFrame, Array[Double]) => EbwResult): GroupedResult = {
    val k = targets(names(0)).length
    def solveOne(name: String, g: Int): (String, GroupResult) =
      name -> (if (sumW(g) == 0.0)
        GroupResult(converged = true, 0, new Array[Double](k),
          new Array[Double](k))
      else {
        EbwLog.info(s"grouped distributed-Gram shard: group '$name' " +
          s"(${g + 1}/${names.length}) via the single-problem solver")
        val res = single(df.filter(col(groupCol) === name), targets(name))
        // effective multipliers (eta absorbed): the grouped output stage
        // computes clip(exp(x . mult), lb, ub) with eta = 1 (the penalty
        // link's eta is -1, so its theta * eta is -z)
        GroupResult(res.converged, res.nIterations,
          res.theta.map(_ * res.link.eta),
          res.constraintViolations)
      })
    val par = math.max(1, math.min(options.shardParallelism, names.length))
    val results: Map[String, GroupResult] =
      if (par == 1)
        names.zipWithIndex.map { case (n, g) => solveOne(n, g) }.toMap
      else {
        // bounded co-scheduling: each future is one independent solve
        // (local vars only; EbwLog is synchronized; SparkContext actions
        // are thread-safe and the scheduler interleaves their jobs)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try {
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          Await.result(
            Future.sequence(names.zipWithIndex.toSeq.map { case (n, g) =>
              Future(solveOne(n, g))
            }), Duration.Inf).toMap
        } finally pool.shutdown()
      }
    val mult = names.map(n => results(n).multipliers)
    val weighted = weightedOutput(df, groupCol, featuresCol, weightCol,
      outputCol, names, mult, lb, ub)
    GroupedResult(weighted, results)
  }

  /** Per-group state the shared round loop advances: targets b_g and
   * their scale, the k-dim iterate theta_g (lambda for the exact solver,
   * z for the penalty one), the link's eta_g, and the per-group outputs. */
  private final class Groups(k: Int, val b: Array[Array[Double]], eta0: Double) {
    val bscale: Array[Double] = b.map(bg => math.max(1.0, norm2(bg)))
    val theta: Array[Array[Double]] = Array.fill(b.length)(new Array[Double](k))
    val etas: Array[Double] = Array.fill(b.length)(eta0)
    val converged = new Array[Boolean](b.length)
    val iters = new Array[Int](b.length)
    val ce: Array[Array[Double]] = Array.fill(b.length)(new Array[Double](k))
  }

  /** The moment dimension k every group's targets share. */
  private def momentDim(targets: Map[String, Array[Double]]): Int = {
    require(targets.nonEmpty)
    val k = targets.head._2.length
    require(targets.values.forall(_.length == k), "all groups need k moments")
    k
  }

  /** Group g's Newton direction at this round's pass:
   * (sign*G_g + diag + ridge*I) d = rhs, given (diag, rhs, ridge, sign). */
  private type Direction = (Array[Double], Array[Double], Double, Double) => Array[Double]

  /** The grouped solve behind both public entry points: prepare,
   * validate and size the rows once as the single solver does (past the
   * driver envelope [[solveSharded]] runs `single` per group), then
   * advance every unconverged group by one `step` per shared kernel pass
   * (the link clip(exp(eta_g * t), lb, ub), eta_g starting at `eta0`)
   * and write one output with effective multipliers eta_g * theta_g. The
   * `finally` releases the kernel's Gram pattern and the row cache. */
  private def solveGroups(
      df: DataFrame, groupCol: String, featuresCol: String, weightCol: String,
      targets: Map[String, Array[Double]], outputCol: String,
      options: EbwOptions, k: Int, eta0: Double,
      single: (DataFrame, Array[Double]) => EbwResult)(
      step: (Groups, Int, Direction) => Unit): GroupedResult = {
    EbwSizing.checkOptions(options)
    val names = targets.keys.toArray.sorted
    val nG = names.length
    val rows = prepRows(df, groupCol, featuresCol, weightCol,
      names.zipWithIndex.toMap, k)
    var live = rows
    var kernel: NewtonKernel = null
    try {
      // the single solver's validation: one partition-ordered pass
      // (fail fast, never AIOOBE in the solve loop) yielding the
      // per-group w0 sums and the EbwSizing input Σ nnz(nnz+1)/2
      val (bad, sumW, n, sumPairs) = EbwAggregator.validate(rows, k, nG)
      if (bad > 0)
        throw new IllegalArgumentException(
          "Inputs include invalid values (NaNs, non-positive weights, etc)")
      val (lb, ub) = EntropyBalance.ratioBounds(options)
      kernel = EntropyBalance.sizeForSparse(
        EntropyBalance.Prepared(rows, k, sumW.sum, n, sumPairs), options,
        groups = Some(nG))
      live = kernel.prep.rows
      // distributed-Gram tier: the shared sparse pass merges the SUM of
      // all groups' Gram patterns on the driver — shard into per-group
      // distributed solves when that exceeds the envelope
      if (kernel.distributed)
        return solveSharded(df, groupCol, featuresCol, weightCol, targets,
          outputCol, options, names, sumW, lb, ub, single)
      val st = new Groups(k,
        Array.tabulate(nG)(g => targets(names(g)).map(_ * sumW(g))), eta0)
      val maxRounds =
        if (options.bounds.isDefined) options.maxStepsBounded else options.maxSteps
      var round = 0
      while (round < maxRounds && !st.converged.forall(identity)) {
        val links = st.etas.map(Link(_, lb, ub))
        val passes = kernel.passes(st.theta, links, st.converged)
        var g = 0
        while (g < nG) {
          if (!st.converged(g)) {
            st.ce(g) = axpy(-1.0, st.b(g), passes(g).s)
            step(st, g, (diag, rhs, ridge, sign) => kernel.direction(
              passes(g), st.theta(g), links(g), rhs, diag, ridge, null, sign))
          }
          g += 1
        }
        round += 1
      }
      val mult = Array.tabulate(nG)(g => st.theta(g).map(_ * st.etas(g)))
      val weighted = weightedOutput(df, groupCol, featuresCol, weightCol,
        outputCol, names, mult, lb, ub)
      val results = names.indices.map { g =>
        names(g) -> GroupResult(st.converged(g), st.iters(g), mult(g), st.ce(g))
      }.toMap
      GroupedResult(weighted, results)
    } finally {
      if (kernel != null) kernel.release()
      live.unpersist(false)
    }
  }

  /**
   * Solve one unbounded (or elastic-bounded) EBW problem per distinct value
   * of `groupCol`. `targets(g)` are mean population moments for group g;
   * every group uses the same feature dimension k. Returns the input with
   * `outputCol` (all groups' weights in one column) plus per-group
   * diagnostics.
   *
   * Large-k routing, sized like a single solve (EbwSizing, measured from
   * the validation scan's total Σ nnz(nnz+1)/2 over all groups): below
   * `options.denseGramMax` every round is one shared dense pass; above
   * it the shared pass fills the G Grams sparsely over the cached Gram
   * pattern, on the partitions and the direct or keyed-tree reduction
   * of the sizing plan, and when even that would exceed this driver's
   * maxResultSize/heap envelope (or with gramMode = "distributed") the
   * groups auto-shard across single-problem DISTRIBUTED-Gram solves
   * co-scheduled `options.shardParallelism` at a time ([[solveSharded]]).
   * gramMode = "driver" keeps the shared pass and fails fast with the
   * sized envelope error instead of OOMing mid-solve.
   */
  def entropyBalanceGrouped(
      df: DataFrame,
      groupCol: String,
      featuresCol: String,
      weightCol: String,
      targets: Map[String, Array[Double]],
      outputCol: String = "weight_new",
      options: EbwOptions = EbwOptions()): GroupedResult = {
    val k = momentDim(targets)
    // Unified link: r = clip(exp(eta_g * t), lb, ub). Unbounded mode is
    // lb=0, ub=inf, eta fixed at 1 (clip inert, no box on lambda);
    // bounded/elastic mode box-projects lambda into [-1,1]^k and
    // auto-grows each group's eta independently (SURVEY.md §3).
    val bounded = options.bounds.isDefined
    val etaFixed = options.eta.isDefined
    solveGroups(df, groupCol, featuresCol, weightCol, targets, outputCol,
      options, k, eta0 = if (bounded) options.eta.getOrElse(1.0) else 1.0,
      (sub, m) => EntropyBalance.entropyBalance(sub, featuresCol, weightCol,
        m, outputCol, options)) { (st, g, direction) =>
      val lambda = st.theta(g)
      val ce = st.ce(g)
      // projected gradient: pin box-saturated coordinates pushing out
      val pg = ce.map(-_)
      if (bounded) {
        var j = 0
        while (j < k) {
          if (lambda(j) >= 1.0 - 1e-12 && pg(j) > 0) pg(j) = 0.0
          if (lambda(j) <= -1.0 + 1e-12 && pg(j) < 0) pg(j) = 0.0
          j += 1
        }
      }
      val viol = norm2(pg)
      if (viol <= options.optimalityTol * st.bscale(g)) {
        // feasibility refinement: pinned with residual violation and
        // growable eta -> retry at 10x (elastic auto-eta per group)
        val pinnedAny = bounded && lambda.exists(l => math.abs(l) >= 1.0 - 1e-9)
        if (bounded && !etaFixed && pinnedAny &&
            norm2(ce) > options.optimalityTol * st.bscale(g) && st.etas(g) < 1e7) {
          val old = st.etas(g)
          st.etas(g) *= 10.0
          var j = 0
          while (j < k) {
            lambda(j) = math.max(-1.0, math.min(1.0, lambda(j) * old / st.etas(g)))
            j += 1
          }
        } else st.converged(g) = true
      } else {
        val ridge = math.max(1e-8, 1e-5 * math.pow(viol / st.bscale(g), 0.55))
        val d = direction(new Array[Double](k), pg, ridge, 1.0)
        // damped full step: groups share the pass, so no individual
        // line search — cap the step to keep exp() sane instead
        val dn = d.map(math.abs).max
        val cap = if (bounded) 2.0 else 30.0
        val scale = if (dn > cap) cap / dn else 1.0
        var j = 0
        while (j < k) {
          val next = lambda(j) + scale * d(j)
          lambda(j) = if (bounded) math.max(-1.0, math.min(1.0, next)) else next
          j += 1
        }
        st.iters(g) += 1
        // step-size exit (shared.py:57), guarded by a loose
        // feasibility check as in the single unbounded solver —
        // stops groups from spinning at the noise floor
        if (norm2(d) * scale < options.stepTol &&
            norm2(ce) < 1e-3 * st.bscale(g)) st.converged(g) = true
      }
    }
  }

  /**
   * Grouped quadratic-penalty EBW: one penalty problem
   * min phi(r) + 1/2 (A'r - b_g)' P (A'r - b_g) per group, optionally with
   * ratio bounds — the grouped analogue of entropy_balance_penalty
   * (ebw_penalty.py:17-399). Same per-round shared pass and the same
   * large-k routing as the exact grouped solver, with the penalty link
   * r = clip(exp(-t), lb, ub) (eta = -1); per group the driver iterates
   * the k-dim fixed point F(z) = z - P Ce(z) with damped Newton steps
   * (P^-1 + G) d = -P^-1 F.
   */
  def entropyBalancePenaltyGrouped(
      df: DataFrame,
      groupCol: String,
      featuresCol: String,
      weightCol: String,
      targets: Map[String, Array[Double]],
      penaltyParameter: Array[Double],
      outputCol: String = "weight_new",
      options: EbwOptions = EbwOptions()): GroupedResult = {
    val k = momentDim(targets)
    val pen = EntropyBalance.penaltyVector(penaltyParameter, k)
    val invP = pen.map(1.0 / _)
    // the aggregated "Gram" under eta = -1 is dS/dz = -G: sign = -1 at
    // the solve; the effective multipliers eta * z are -z
    solveGroups(df, groupCol, featuresCol, weightCol, targets, outputCol,
      options, k, eta0 = -1.0,
      (sub, m) => EntropyBalance.entropyBalancePenalty(sub, featuresCol,
        weightCol, m, pen, outputCol, options)) { (st, g, direction) =>
      val z = st.theta(g)
      val ce = st.ce(g)
      val f = new Array[Double](k)
      var i = 0
      while (i < k) { f(i) = z(i) - pen(i) * ce(i); i += 1 }
      val fNorm = norm2(f)
      if (fNorm <= options.optimalityTol * math.max(1.0, norm2(z))) {
        st.converged(g) = true
      } else {
        val rhs = new Array[Double](k)
        i = 0
        while (i < k) { rhs(i) = -invP(i) * f(i); i += 1 }
        val ridge = math.max(1e-10, 1e-7 * fNorm / st.bscale(g))
        val d = direction(invP, rhs, ridge, -1.0)
        val dn = d.map(math.abs).max
        val scale = if (dn > 30.0) 30.0 / dn else 1.0
        i = 0
        while (i < k) { z(i) += scale * d(i); i += 1 }
        st.iters(g) += 1
        // step-size exit (shared.py:57 semantics, as in the single
        // solver): once steps shrink below stepTol the iterate is
        // done — without this, groups spin at the ||F|| noise floor
        if (norm2(d) * scale < options.stepTol) st.converged(g) = true
      }
    }
  }
}
