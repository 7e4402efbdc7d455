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
 * [[EbwRow]]s tagged with their group, validated by the same pass
 * (EbwAggregator.validate), and below denseGramMax a round IS the single
 * solver's dense pass (EbwAggregator.run, one block per group). Driver
 * state is a k-vector per group; converged groups freeze (their rows stop
 * contributing via a skip mask). The same round loop ([[solveGroups]]:
 * validation, large-k routing, round pass, output) serves the exact
 * solver (dual Newton, optional elastic bounds with per-group auto-eta)
 * and the penalty solver (fixed point z = P(A'Phi(z) - b), link =
 * clip(exp(-t)) i.e. eta = -1); each supplies only its per-group step.
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

  /** One round's aggregates with per-group accessors: the dense pass's
   * per-group [[EbwAggregator.Pass]]es, or the sparse round's flat s
   * (nG * k) and one key-sorted sparse triangle keyed by (g*k+i)*k+j,
   * so each group's Gram is a contiguous run of keys. */
  private final class RoundData(
      k: Int, dense: Array[EbwAggregator.Pass],
      sparseS: Array[Double], sparseGram: SortedGram) {
    def s(g: Int): Array[Double] =
      if (dense != null) dense(g).s
      else java.util.Arrays.copyOfRange(sparseS, g * k, (g + 1) * k)
    /** Group g's Newton direction: (sign*G_g + diag + ridge*I) d = rhs,
     * by Cholesky on the dense Gram or Jacobi-CG on the sparse one (its
     * keys re-based to i*k+j and decoded per group). */
    def direction(g: Int, diag: Array[Double], rhs: Array[Double],
        ridge: Double, sign: Double): Array[Double] =
      if (dense != null)
        DriverLinalg.solveWithDiag(k, dense(g).gram, diag, rhs, ridge, sign)
      else {
        val span = k.toLong * k
        val gram = sparseGram.slice(g * span, (g + 1) * span)
        val (rows, cols) = DriverLinalg.decode(k, gram.keys)
        DriverLinalg.cgSolve(k, rows, cols, gram.vals, diag, rhs, ridge, null, sign)
      }
  }

  /**
   * One round over every unconverged group g (`done` marks the others,
   * whose rows add nothing) at theta_g under the link
   * clip(exp(eta_g * t), lb, ub). At or below denseGramMax this is the
   * single solver's dense pass, EbwAggregator.run, one block per group.
   * Above it the flat per-task blocks (nG * (k + k(k+1)/2 + 3) doubles:
   * 500 groups x k=1000 would be ~2 GB/task) give way to a sparse
   * accumulation — s stays flat (nG*k), the Gram goes into one
   * [[GramTable]] per partition keyed by (g*k+i)*k+j, proportional to the
   * realized cross pattern, and a [[GramSum]] adds the key-sorted
   * partials up with linear merges.
   */
  private def roundPass(
      rows: RDD[EbwRow], k: Int, thetas: Array[Array[Double]],
      links: Array[Link], done: Array[Boolean], sparseGram: Boolean): RoundData = {
    if (!sparseGram)
      return new RoundData(k, EbwAggregator.run(rows, k, thetas, links, done), null, null)
    val nG = thetas.length
    val sum = (a: (Array[Double], GramSum), c: (Array[Double], GramSum)) => {
      DriverLinalg.addInto(a._1, c._1)
      a._2.addAll(c._2)
      a
    }
    val agg = rows.mapPartitions { it =>
      val s = new Array[Double](nG * k)
      val gram = new GramTable()
      while (it.hasNext) {
        val r = it.next()
        val g = r.g
        if (!done(g)) {
          val (rr, rp) = links(g).rAndSlope(EbwAggregator.margin(r, thetas(g), k))
          EbwAggregator.addScaled(s, g * k, k, r.idx, r.vals, r.w0 * rr)
          gram.addRow(g.toLong * k * k, k, r.idx, r.vals, r.w0 * rp)
        }
      }
      Iterator((s, new GramSum().add(gram.sorted())))
    }.treeAggregate((new Array[Double](nG * k), new GramSum()))(sum, sum, depth = 2)
    new RoundData(k, null, agg._1, agg._2.result)
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
    require(options.shardParallelism >= 1,
      s"shardParallelism must be >= 1: ${options.shardParallelism}")
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

  /** The grouped solve behind both public entry points: prepare and
   * validate the rows once, route by the same EbwSizing envelope as the
   * single solver (past it, [[solveSharded]] runs `single` per group),
   * then advance every unconverged group by one `step` per shared round
   * pass (the link clip(exp(eta_g * t), lb, ub), eta_g starting at
   * `eta0`) and write one output with effective multipliers
   * eta_g * theta_g. */
  private def solveGroups(
      df: DataFrame, groupCol: String, featuresCol: String, weightCol: String,
      targets: Map[String, Array[Double]], outputCol: String,
      options: EbwOptions, k: Int, eta0: Double,
      single: (DataFrame, Array[Double]) => EbwResult)(
      step: (Groups, RoundData, Int) => Unit): GroupedResult = {
    val names = targets.keys.toArray.sorted
    val nG = names.length
    val rows = prepRows(df, groupCol, featuresCol, weightCol,
      names.zipWithIndex.toMap, k)
    try {
      // the single solver's validation: one partition-ordered pass
      // (fail fast, never AIOOBE in the solve loop) yielding the
      // per-group w0 sums and the EbwSizing input Σ nnz(nnz+1)/2
      val (bad, sumW, _, sumPairs) = EbwAggregator.validate(rows, k, nG)
      if (bad > 0)
        throw new IllegalArgumentException(
          "Inputs include invalid values (NaNs, non-positive weights, etc)")
      val (lb, ub) = EntropyBalance.ratioBounds(options)
      // distributed-Gram tier: the shared sparse pass merges the SUM of
      // all groups' Gram patterns on the driver — shard into per-group
      // distributed solves when that exceeds the envelope
      val route = EbwSizing.route(rows.sparkContext, k, sumPairs,
        rows.getNumPartitions, options)
      for ((plan, dist) <- route)
        EbwLog.info(s"grouped sparse Gram sizing: nG=$nG " +
          s"sumPairs=$sumPairs mode=${if (dist) "sharded-distributed"
            else "shared-driver"} (${plan.why})")
      if (route.exists(_._2))
        return solveSharded(df, groupCol, featuresCol, weightCol, targets,
          outputCol, options, names, sumW, lb, ub, single)
      val st = new Groups(k,
        Array.tabulate(nG)(g => targets(names(g)).map(_ * sumW(g))), eta0)
      val maxRounds =
        if (options.bounds.isDefined) options.maxStepsBounded else options.maxSteps
      var round = 0
      while (round < maxRounds && !st.converged.forall(identity)) {
        val rd = roundPass(rows, k, st.theta,
          st.etas.map(Link(_, lb, ub)), st.converged, route.isDefined)
        var g = 0
        while (g < nG) {
          if (!st.converged(g)) {
            st.ce(g) = axpy(-1.0, st.b(g), rd.s(g))
            step(st, rd, g)
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
    } finally rows.unpersist(false)
  }

  /**
   * Solve one unbounded (or elastic-bounded) EBW problem per distinct value
   * of `groupCol`. `targets(g)` are mean population moments for group g;
   * every group uses the same feature dimension k. Returns the input with
   * `outputCol` (all groups' weights in one column) plus per-group
   * diagnostics.
   *
   * Large-k routing: below `options.denseGramMax` every round is one
   * shared dense pass; above it the shared pass accumulates the G Grams
   * sparsely, and when even that would exceed this driver's
   * maxResultSize/heap envelope (EbwSizing, measured from the validation
   * scan's total Σ nnz(nnz+1)/2 — or forced with gramMode =
   * "distributed"), the groups auto-shard across single-problem
   * DISTRIBUTED-Gram solves co-scheduled `options.shardParallelism` at a
   * time ([[solveSharded]]).
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
        m, outputCol, options)) { (st, rd, g) =>
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
        val d = rd.direction(g, new Array[Double](k), pg, ridge, 1.0)
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
        weightCol, m, pen, outputCol, options)) { (st, rd, g) =>
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
        val d = rd.direction(g, invP, rhs, ridge, -1.0)
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
