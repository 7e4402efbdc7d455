package graft.ebw

import org.apache.spark.ml.linalg.{DenseVector, SparseVector, Vector}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.apache.spark.storage.StorageLevel

import DriverLinalg.{axpy, dot, norm2}

/**
 * Entropy Balance Weighting on Spark — same capabilities as the reference
 * package (/root/reference/entropy_balance_weighting), re-architected for a
 * cluster instead of translated from it.
 *
 * The reference (ebw_routines.py:18-331) keeps the primal N-vector iterate
 * in RAM and mixes primal and dual Newton steps; its pure-dual candidate
 * `q * exp(X lambda)` (ebw_routines.py:263-272) is evaluated every step and
 * taken whenever it wins. We work in that dual space exclusively: all solver
 * state is the k-vector of equality multipliers on the driver, each Newton
 * step costs one aggregation pass (EbwAggregator) over the (cached) data
 * per line-search trial, and the output weights stay distributed as a
 * lazily-computed column
 * `w0 * r(x . lambda)`. Bounds (elastic mode) and the penalty variant reduce
 * to the same kernel with a different per-row link — see EbwTypes.Link and
 * SURVEY.md §3 for the derivations. All three modes share one
 * prepare → size → solve → dump wrapper and run on one [[NewtonKernel]]
 * (aggregation pass, Newton direction, backtracking); each mode's loop
 * keeps only its own math.
 */
object EntropyBalance {

  private[ebw] final case class Prepared(
      rows: RDD[EbwRow], k: Int, sumW: Double, n: Long, sumPairs: Long = 0L)

  /** Project the input down to (features, w0), convert to the compact row
   * form, cache it for the iteration loop, and fail fast on invalid inputs
   * (mirrors shared.py:105-133 / ebw_routines.py:158-161). */
  private[ebw] def prepare(
      df: DataFrame, featuresCol: String, weightCol: String, k: Int,
      moments: Array[Double]): Prepared = {
    require(moments.length == k)
    if (moments.exists(m => m.isNaN || m.isInfinite))
      throw new IllegalArgumentException(
        "Inputs include invalid values (NaNs, non-positive weights, etc)")
    val rows = df
      .select(col(featuresCol), col(weightCol).cast(DoubleType))
      .rdd
      .map(r => toEbwRow(r.get(0), if (r.isNullAt(1)) Double.NaN else r.getDouble(1)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    rows.setName(s"ebw-input-k$k")
    val (bad, sumW, n, sumPairs) = EbwAggregator.validate(rows, k, 1)
    if (bad > 0 || n == 0) {
      rows.unpersist(false)
      throw new IllegalArgumentException(
        "Inputs include invalid values (NaNs, non-positive weights, etc)")
    }
    Prepared(rows, k, sumW(0), n, sumPairs)
  }

  /** Sizing pre-flight of every solve, single and grouped: route the
   * problem (EbwSizing.route) and build its Newton kernel. On the sparse
   * path (k > denseGramMax) partitions and tree depth are sized from the
   * measured row density and the Gram placed on the driver when this
   * driver's maxResultSize/heap budget holds it, distributed otherwise
   * (EbwSizing scaladoc); the cached row RDD may be replaced by a
   * repartitioned copy so no partition's Gram partial outgrows the
   * target. A grouped problem (`groups` = Some(nG)) is sized for all its
   * groups' Grams; past the driver budget its rows stay as they are, as
   * each group then shards to a single-problem solve that sizes itself. */
  private[ebw] def sizeForSparse(prep: Prepared, options: EbwOptions,
      groups: Option[Int] = None): NewtonKernel = {
    val route = EbwSizing.route(prep.rows.sparkContext, prep.k, prep.sumPairs,
      prep.rows.getNumPartitions, options, prep.n, groups.getOrElse(1))
    if (route.isEmpty) return new NewtonKernel(prep, None, distributed = false)
    val (plan, dist) = route.get
    val sharded = dist && groups.isDefined
    val what =
      if (sharded) s"parts=${prep.rows.getNumPartitions} mode=sharded-distributed"
      else s"parts=${prep.rows.getNumPartitions}->${plan.partitions} " +
        s"depth=${plan.depth} mode=${if (dist) "distributed" else "driver"} " +
        s"reduce=${if (plan.direct) "direct" else "tree"}"
    EbwLog.info(groups.fold("")(nG => s"grouped nG=$nG ") +
      s"sparse Gram sizing: sumPairs=${prep.sumPairs} $what (${plan.why})")
    if (sharded) return new NewtonKernel(prep, Some(plan), distributed = true)
    val prep2 =
      if (plan.partitions > prep.rows.getNumPartitions) {
        val r2 = prep.rows.repartition(plan.partitions)
          .persist(StorageLevel.MEMORY_AND_DISK)
        r2.setName(s"ebw-input-k${prep.k}-p${plan.partitions}")
        // if materialization fails, the caller's finally still points at
        // the OLD rows — unpersist r2 here or its partial blocks leak
        try r2.count()
        catch { case e: Throwable => r2.unpersist(false); throw e }
        prep.rows.unpersist(false)
        prep.copy(rows = r2)
      } else prep
    new NewtonKernel(prep2, Some(plan), dist)
  }

  /** The ratio bounds (lb, ub) of `options.bounds`, (0, inf) when
   * unbounded: a negative lb clamps to 0 as in the reference (L362), a
   * missing ub is +inf. */
  private[ebw] def ratioBounds(options: EbwOptions): (Double, Double) = {
    val (lbRaw, ubOpt) = options.bounds.getOrElse((0.0, None: Option[Double]))
    (math.max(0.0, lbRaw), ubOpt.getOrElse(Double.PositiveInfinity))
  }

  /** The per-moment penalty vector: one value applies to all k moments;
   * every penalty must be strictly positive. */
  private[ebw] def penaltyVector(penaltyParameter: Array[Double], k: Int): Array[Double] = {
    val pen =
      if (penaltyParameter.length == 1) Array.fill(k)(penaltyParameter(0))
      else penaltyParameter
    if (pen.length != k)
      throw new IllegalArgumentException("Penalties must be one per moment.")
    if (!pen.forall(_ > 0.0))
      throw new IllegalArgumentException("Penalty parameters must be strictly positive.")
    pen
  }

  /** Decode one feature cell of group `g`; null elements inside an array
   * flag the row invalid (vals = null) instead of silently unboxing to
   * 0.0. */
  private[ebw] def toEbwRow(feat: Any, w: Double, g: Int = 0): EbwRow = feat match {
    case v: SparseVector => EbwRow(v.indices, v.values, w, g)
    case v: DenseVector  => EbwRow(null, v.values, w, g)
    case s: scala.collection.Seq[_] =>
      val seq = s.asInstanceOf[scala.collection.Seq[Any]]
      if (seq.exists(_ == null)) EbwRow(null, null, w, g)
      else EbwRow(null, seq.map(_.asInstanceOf[Double]).toArray, w, g)
    case _ => EbwRow(null, null, w, g)
  }

  /** The ratio r(x . theta) as a DataFrame column. For array<double>
   * features this is the fused native kernel `graft_ratio` — ONE codegen'd
   * loop computing clip(exp(eta * x.theta), lb, ub), the same arithmetic
   * (incl. the 700 exp cap) as the solver's aggregation kernel, so
   * model.transform stays inside whole-stage codegen at any scale and
   * bit-matches the solve. VectorUDT features fall back to a deterministic
   * UDF (Catalyst has no native Vector ops). */
  private[ebw] def ratioColumn(
      df: DataFrame, featuresCol: String, theta: Array[Double], link: Link): Column = {
    val th = theta
    val lk = link
    if (df.schema(featuresCol).dataType.isInstanceOf[ArrayType]) {
      graft.functions.GraftFunctions.register(df.sparkSession)
      // Link.exp carries (eta, lb, ub) = (1, 0, inf): the inert clip
      call_function("graft_ratio",
        col(featuresCol).cast("array<double>"), typedlit(th.toSeq),
        lit(lk.eta), lit(lk.lb), lit(lk.ub))
    } else {
      val f = udf { v: Vector =>
        var t = 0.0
        v.foreachActive((i, x) => t += x * th(i))
        lk.r(t)
      }
      f(col(featuresCol))
    }
  }

  /** What a mode's Newton loop hands back to the shared wrapper. */
  private final case class Outcome(
      theta: Array[Double], link: Link, converged: Boolean, nIter: Int,
      violations: Array[Double], multipliers: Array[Double],
      eta: Option[Double], fval: Double, msg: String,
      momentSlack: Option[Array[Double]] = None)

  private def results(
      df: DataFrame, featuresCol: String, weightCol: String, outputCol: String,
      o: Outcome): EbwResult = {
    val ratio = ratioColumn(df, featuresCol, o.theta, o.link)
    val attempt = df.withColumn(outputCol, col(weightCol) * ratio)
    val weighted =
      if (o.converged) attempt else df.withColumn(outputCol, col(weightCol) * lit(1.0))
    EbwResult(weighted, attempt, o.converged, o.nIter, o.violations,
      o.multipliers, o.eta, o.fval, o.msg, o.momentSlack,
      theta = o.theta, link = o.link)
  }

  /** If a primal ratio guess column is configured (and no explicit dual
   * warm start), project log(r0) onto span(X) with one least-squares pass
   * and seed the multipliers with the solution — the dual-space image of
   * the reference's `initial_ratio_guess` (ebw_routines.py:206): for the
   * exp link, log r = x . lambda exactly, so a guess already of that form
   * reproduces its lambda. */
  private def resolveWarmStart(
      df: DataFrame, featuresCol: String, weightCol: String, k: Int,
      options: EbwOptions): EbwOptions =
    (options.initialRatioGuessCol, options.initialMultipliers) match {
      case (Some(rc), None) if k <= options.denseGramMax =>
        val rows = df
          .select(col(featuresCol), col(weightCol).cast(DoubleType),
            col(rc).cast(DoubleType))
          .rdd
          .map(r => (
            toEbwRow(r.get(0), if (r.isNullAt(1)) Double.NaN else r.getDouble(1)),
            if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
        val (gram, rhs) = EbwAggregator.ratioSeed(rows, k)
        val lambda0 = DriverLinalg.solveWithDiag(k, gram, new Array[Double](k), rhs, 1e-10)
        EbwLog.info(s"primal warm start: seeded ${k} multipliers from '$rc'")
        options.copy(initialMultipliers = Some(lambda0))
      case (Some(rc), None) =>
        EbwLog.warn(s"primal warm start from '$rc' skipped: k=$k exceeds " +
          s"denseGramMax=${options.denseGramMax} (dense LS seed only)")
        options
      case _ => options
    }

  /**
   * `criterion` parity (shared.py:41), Spark-shaped: one statistics-only
   * aggregation pass (no Gram, at any k) evaluating the KL criterion
   * sum(w0 (r ln r - r + 1)) and the moment violation
   * Ce = A'w(lambda) - m sum(w0) at the given multipliers, with
   * r = exp(x . lambda). The reference returns the N-vector jacobian and
   * Hessian diagonal; distributed, those stay implicit (the jacobian's
   * aggregate A'-image IS the violation returned here).
   */
  def evaluate(
      df: DataFrame,
      featuresCol: String,
      weightCol: String,
      meanPopulationMoments: Array[Double],
      multipliers: Array[Double]): EbwEvaluation = {
    val k = meanPopulationMoments.length
    require(multipliers.length == k,
      s"multipliers has ${multipliers.length} entries, expected $k")
    val prep = prepare(df, featuresCol, weightCol, k, meanPopulationMoments)
    try {
      val pass = EbwAggregator.runStats(prep.rows, k, multipliers, Link.exp)
      val b = meanPopulationMoments.map(_ * prep.sumW)
      val ce = axpy(-1.0, b, pass.s)
      EbwEvaluation(pass.fval, ce, norm2(ce), pass.wrsum)
    } finally prep.rows.unpersist(false)
  }

  // ---------------------------------------------------------------- public

  /**
   * Reweight `df` so that the weighted totals of `featuresCol` match
   * `meanPopulationMoments * sum(w0)`, minimizing KL divergence from the
   * initial weights. Reference: entropy_balance (ebw_routines.py:18).
   * `options.bounds` routes to the elastic bounded solver, as the reference
   * does (ebw_routines.py:166-172).
   */
  def entropyBalance(
      df: DataFrame,
      featuresCol: String,
      weightCol: String,
      meanPopulationMoments: Array[Double],
      outputCol: String = "weight_new",
      options: EbwOptions = EbwOptions()): EbwResult = {
    if (options.bounds.isDefined)
      return entropyBalanceElastic(df, featuresCol, weightCol,
        meanPopulationMoments, outputCol, options)
    solve(df, featuresCol, weightCol, outputCol, meanPopulationMoments,
      options, warmStart = true)(unboundedLoop)
  }

  /** prepare → warm start → size → solve → dump → release, shared by the
   * three single-problem modes. `warmStart` checks `initialMultipliers`
   * and resolves the primal warm start (the dual modes; the penalty fixed
   * point always starts at z = 0). The input is validated BEFORE the
   * warm-start pass, so malformed inputs fail with the documented error,
   * not an index error inside ratioSeed. The `finally` releases every
   * RDD the solve cached: the kernel's Gram pattern and the row cache. */
  private def solve(
      df: DataFrame, featuresCol: String, weightCol: String, outputCol: String,
      m: Array[Double], options: EbwOptions, warmStart: Boolean)(
      loop: (NewtonKernel, Array[Double], EbwOptions) => Outcome): EbwResult = {
    val k = m.length
    EbwSizing.checkOptions(options)
    if (warmStart) options.initialMultipliers.foreach(mu => require(mu.length == k,
      s"initialMultipliers has ${mu.length} entries, expected $k"))
    val prep0 = prepare(df, featuresCol, weightCol, k, m)
    var live = prep0
    var kernel: NewtonKernel = null
    try {
      val opts =
        if (warmStart) resolveWarmStart(df, featuresCol, weightCol, k, options)
        else options
      kernel = sizeForSparse(prep0, opts)
      live = kernel.prep
      val res = results(df, featuresCol, weightCol, outputCol, loop(kernel, m, opts))
      maybeDump(df.sparkSession, live, m, options, res)
      res
    } finally {
      if (kernel != null) kernel.release()
      live.rows.unpersist(false)
    }
  }

  /** save_problem_data / save_failure_data semantics
   * (ebw_routines.py:312-319): always dump to the former; dump to the
   * latter only on failure. Reuses the solve's cached row projection. */
  private def maybeDump(
      spark: org.apache.spark.sql.SparkSession, prep: Prepared,
      m: Array[Double], options: EbwOptions, res: EbwResult): Unit = {
    options.saveProblemData.foreach(p =>
      ProblemIO.saveRows(spark, prep.rows, m, p))
    if (!res.converged)
      options.saveFailureData.foreach(p =>
        ProblemIO.saveRows(spark, prep.rows, m, p))
  }

  private def unboundedLoop(
      kn: NewtonKernel, m: Array[Double], options: EbwOptions): Outcome = {
    val prep = kn.prep
    val k = kn.k
    val b = m.map(_ * prep.sumW)
    val bscale = math.max(1.0, norm2(b))
    val link = Link.exp
    var lambda = options.initialMultipliers
      .map(_.clone())
      .getOrElse(new Array[Double](k))
    var pass = kn.pass(lambda, link)
    var ce = axpy(-1.0, b, pass.s)
    var steps = 0
    var converged = false
    var failed = false
    var msg = ""
    EbwLog.info(s"EBW unbounded: n=${prep.n} k=$k sumW=${prep.sumW}")
    var done = false
    while (!done) {
      val viol = norm2(ce)
      EbwLog.info(f"step=$steps%3d f=${pass.fval}%12.6g ||Ce||=$viol%12.6g")
      if (viol <= options.optimalityTol * bscale) {
        converged = true; done = true
      } else if (steps >= options.maxSteps) {
        failed = true; msg = s"Max steps ${options.maxSteps} exceeded."; done = true
      } else if (viol.isNaN) {
        failed = true; msg = "NaN in optimality conditions"; done = true
      } else {
        // (G + ridge I) d = -Ce ; adaptive ridge as ebw_routines.py:235-237
        val ridge = math.max(1e-8, 1e-5 * math.pow(viol / bscale, 0.55))
        val negCe = ce.map(-_)
        val d = kn.direction(pass, lambda, link, negCe, new Array[Double](k),
          ridge, null, 1.0)
        // Armijo backtracking on the dual objective
        // D(lambda) = b.lambda - (sum w0 exp(x.lambda) - sumW)
        val dCur = dot(b, lambda) - (pass.wrsum - prep.sumW)
        val gd = dot(negCe, d) // = grad D . d >= 0
        val step = kn.backtrack(link, 14)(axpy(_, d, lambda)) { t =>
          val dCand = dot(b, t.theta) - (t.pass.wrsum - prep.sumW)
          !dCand.isNaN &&
            dCand >= dCur + 1e-4 * t.alpha * gd - 1e-10 * (1.0 + math.abs(dCur))
        }
        steps += 1
        step match {
          case None =>
            failed = true
            msg = "Bad step, feasibility in doubt; rerun with bounds=(0, None) " +
              "for a certificate (see reference ebw_routines.py:274-282)."
            done = true
          case Some(t) =>
            lambda = t.theta
            pass = t.pass
            ce = axpy(-1.0, b, pass.s)
            if (norm2(d.map(_ * t.alpha)) < options.stepTol &&
                norm2(ce) < 1e-3 * bscale) {
              converged = true; done = true // step sizes converged (shared.py:57)
            }
        }
      }
    }
    if (failed) EbwLog.warn(s"EBW did not converge: $msg")
    Outcome(lambda, link, converged && !failed, steps, ce, lambda, None,
      pass.fval, msg)
  }

  /**
   * Bounded / elastic-mode EBW: lb <= w_new/w0 <= ub. Reference:
   * entropy_balance_elastic (ebw_routines.py:334-647). Spark-native
   * derivation (SURVEY.md §3): the elastic program
   *    min (1/eta) phi(r) + ||u||_1 + ||v||_1
   *    s.t. A^T r - b + u - v = 0,  lb <= r <= ub,  u,v >= 0
   * dualizes to maximizing the concave g(lambda) over the box
   * lambda in [-1,1]^k with the closed-form primal map
   *    r(lambda) = clip(exp(eta * x . lambda), lb, ub).
   * Box-projected Newton on the driver; clipped rows drop out of the Gram.
   * When `eta` is not user-fixed it auto-grows (x10) while the optimum pins
   * to the box but the problem still looks feasible — the analogue of
   * ebw_routines.py:576-584 — so feasible problems reproduce the unbounded
   * answer exactly (test_elastic.py:8-32) and infeasible ones return the
   * min-L1-violation elastic solution (test_elastic.py:35-53).
   */
  def entropyBalanceElastic(
      df: DataFrame,
      featuresCol: String,
      weightCol: String,
      meanPopulationMoments: Array[Double],
      outputCol: String = "weight_new",
      options: EbwOptions = EbwOptions()): EbwResult =
    solve(df, featuresCol, weightCol, outputCol, meanPopulationMoments,
      options, warmStart = true)(elasticLoop)

  private def elasticLoop(
      kn: NewtonKernel, m: Array[Double], options: EbwOptions): Outcome = {
    val prep = kn.prep
    val k = kn.k
    val (lb, ub) = ratioBounds(options)
    require(ub > lb, "upper bound must exceed lower bound")
    val b = m.map(_ * prep.sumW)
    val bscale = math.max(1.0, norm2(b))
    val etaFixed = options.eta.isDefined
    var eta = options.eta.getOrElse(1.0)
    var lambda = new Array[Double](k)
    options.initialMultipliers.foreach { mu =>
      var i = 0
      while (i < k) { lambda(i) = math.max(-1.0, math.min(1.0, mu(i) / eta)); i += 1 }
    }
    var pass = kn.pass(lambda, Link(eta, lb, ub))
    var ce = axpy(-1.0, b, pass.s)
    var totalSteps = 0
    var converged = false
    var grow = true
    var outer = 0
    EbwLog.info(s"EBW elastic: n=${prep.n} k=$k bounds=($lb,$ub) eta0=$eta")
    while (grow) {
      outer += 1
      val link = Link(eta, lb, ub)
      // ---- inner: box-projected Newton at fixed eta
      var inner = 0
      var innerDone = false
      var innerConverged = false
      while (!innerDone) {
        // gradient of g is -Ce; pin coordinates pushing outside the box
        val grad = ce.map(-_)
        val pinned = new Array[Boolean](k)
        var i = 0
        while (i < k) {
          if (lambda(i) >= 1.0 - 1e-12 && grad(i) > 0) pinned(i) = true
          if (lambda(i) <= -1.0 + 1e-12 && grad(i) < 0) pinned(i) = true
          i += 1
        }
        val pg = new Array[Double](k)
        i = 0
        while (i < k) { pg(i) = if (pinned(i)) 0.0 else grad(i); i += 1 }
        val pgNorm = norm2(pg)
        EbwLog.info(f"eta=$eta%10.3g inner=$inner%3d f=${pass.fval}%12.6g ||pg||=$pgNorm%12.6g")
        if (pgNorm <= options.optimalityTol * bscale) {
          innerDone = true; innerConverged = true
        } else if (inner >= options.maxStepsBounded) {
          innerDone = true
        } else {
          val ridge = math.max(1e-8, 1e-5 * math.pow(pgNorm / bscale, 0.55))
          val d = kn.direction(pass, lambda, link, pg, new Array[Double](k),
            ridge, pinned.map(!_), 1.0)
          // When most rows are clipped the interior Gram is tiny and the
          // Newton direction blows up; any move beyond the box diameter is
          // meaningless, so cap ||d||_inf at 2 (degrades gracefully into
          // projected gradient ascent in the fully-clipped regime).
          val dmax = d.map(math.abs).max
          if (dmax > 2.0) {
            val sc = 2.0 / dmax
            var j = 0
            while (j < k) { d(j) *= sc; j += 1 }
          }
          val gCur = pass.fval / eta - dot(lambda, ce)
          val project = (alpha: Double) => {
            val cand = new Array[Double](k)
            var j = 0
            while (j < k) {
              cand(j) = math.max(-1.0, math.min(1.0, lambda(j) + alpha * d(j)))
              j += 1
            }
            cand
          }
          val step = kn.backtrack(link, 24)(project) { t =>
            // projected Armijo: directional derivative along the ACTUAL
            // movement cand - lambda (Bertsekas, projected Newton)
            var gdMove = 0.0
            var j = 0
            while (j < k) { gdMove += pg(j) * (t.theta(j) - lambda(j)); j += 1 }
            val gCand = t.pass.fval / eta - dot(t.theta, axpy(-1.0, b, t.pass.s))
            !gCand.isNaN && gdMove >= 0.0 &&
              gCand >= gCur + 1e-6 * gdMove - 1e-10 * (1.0 + math.abs(gCur))
          }
          inner += 1
          totalSteps += 1
          step match {
            case None => innerDone = true
            case Some(t) =>
              var mv = 0.0
              var j = 0
              while (j < k) {
                val dj = t.theta(j) - lambda(j); mv += dj * dj; j += 1
              }
              lambda = t.theta
              pass = t.pass
              ce = axpy(-1.0, b, pass.s)
              if (math.sqrt(mv) < options.stepTol) {
                innerDone = true; innerConverged = true
              }
          }
        }
      }
      converged = innerConverged
      // ---- eta growth: only in auto mode, only while multipliers pin to the
      // box with residual violation (could be feasible with larger eta)
      val pinnedAny = lambda.exists(l => math.abs(l) >= 1.0 - 1e-9)
      if (!etaFixed && innerConverged && pinnedAny &&
          norm2(ce) > options.optimalityTol * bscale && eta < 1e7) {
        val etaOld = eta
        eta *= 10.0
        var i = 0
        while (i < k) {
          lambda(i) = math.max(-1.0, math.min(1.0, lambda(i) * etaOld / eta))
          i += 1
        }
        pass = kn.pass(lambda, Link(eta, lb, ub))
        ce = axpy(-1.0, b, pass.s)
      } else grow = false
      if (outer > 12) grow = false
    }
    val slackLm = lambda.map(l => 1.0 - l) ++ lambda.map(l => 1.0 + l)
    Outcome(lambda, Link(eta, lb, ub), converged, totalSteps, ce,
      lambda.map(_ * eta), Some(eta), pass.fval,
      if (converged) "" else "bounded solve did not converge", Some(slackLm))
  }

  /**
   * Quadratic-penalty EBW: min phi(r) + 1/2 (A^T r - b)' P (A^T r - b),
   * optionally with ratio bounds. Reference: entropy_balance_penalty
   * (ebw_penalty.py:17-249) and the bounded variant (ebw_penalty.py:252-399).
   * Spark-native reduction (SURVEY.md §3): stationarity gives the k-dim
   * fixed point z = P (A^T r(z) - b) with r(z) = clip(exp(-x . z), lb, ub);
   * Newton solves (P^-1 + G) delta = -P^-1 F, one aggregation pass per
   * iteration. The reference needs the Woodbury identity (ebw_penalty.py:442)
   * to dodge an N x N inverse; in z-space that matrix never exists.
   */
  def entropyBalancePenalty(
      df: DataFrame,
      featuresCol: String,
      weightCol: String,
      meanPopulationMoments: Array[Double],
      penaltyParameter: Array[Double],
      outputCol: String = "weight_new",
      options: EbwOptions = EbwOptions()): EbwResult = {
    val pen = penaltyVector(penaltyParameter, meanPopulationMoments.length)
    solve(df, featuresCol, weightCol, outputCol, meanPopulationMoments,
      options, warmStart = false)(penaltyLoop(pen))
  }

  private def penaltyLoop(pen: Array[Double])(
      kn: NewtonKernel, m: Array[Double], options: EbwOptions): Outcome = {
    val prep = kn.prep
    val k = kn.k
    val (lb, ub) = ratioBounds(options)
    // eta = -1 gives r = clip(exp(-t), lb, ub); with no bounds
    // (lb, ub) = (0, inf) and the clip is inert, so one loop serves both
    // variants
    val link = Link(-1.0, lb, ub)
    val b = m.map(_ * prep.sumW)
    val bscale = math.max(1.0, norm2(b))
    var z = new Array[Double](k)
    var pass = kn.pass(z, link)
    var ce = axpy(-1.0, b, pass.s)
    val maxSteps =
      if (options.bounds.isDefined) options.maxStepsBounded else options.maxSteps
    var steps = 0
    var converged = false
    var done = false
    val invP = pen.map(1.0 / _)
    // F(z) = z - P Ce(z)
    def residual(z: Array[Double], ce: Array[Double]): Array[Double] = {
      val f = new Array[Double](k)
      var i = 0
      while (i < k) { f(i) = z(i) - pen(i) * ce(i); i += 1 }
      f
    }
    EbwLog.info(s"EBW penalty: n=${prep.n} k=$k bounded=${options.bounds.isDefined}")
    while (!done) {
      val f = residual(z, ce)
      val fNorm = norm2(f)
      EbwLog.info(f"step=$steps%3d ||F||=$fNorm%12.6g ||Ce||=${norm2(ce)}%12.6g")
      if (fNorm <= options.optimalityTol * math.max(1.0, norm2(z))) {
        converged = true; done = true
      } else if (steps >= maxSteps) {
        done = true
      } else {
        // the aggregated Gram under eta = -1 is dS/dz = -G, G PSD:
        // (P^-1 + G) delta = -P^-1 F, hence sign = -1
        val rhs = new Array[Double](k)
        var i = 0
        while (i < k) { rhs(i) = -invP(i) * f(i); i += 1 }
        val ridge = math.max(1e-10, 1e-7 * fNorm / bscale)
        val d = kn.direction(pass, z, link, rhs, invP, ridge, null, -1.0)
        val step = kn.backtrack(link, 14)(axpy(_, d, z)) { t =>
          norm2(residual(t.theta, axpy(-1.0, b, t.pass.s))) <=
            fNorm * (1.0 - 1e-4 * t.alpha) + 1e-12
        }
        steps += 1
        step match {
          case None =>
            // noise-floor exit: the full step is below stepTol, never
            // looser than the accepted step's exit (alpha * d, alpha <= 1)
            if (norm2(d) < options.stepTol) converged = true
            done = true
          case Some(t) =>
            z = t.theta
            pass = t.pass
            ce = axpy(-1.0, b, pass.s)
            if (norm2(d.map(_ * t.alpha)) < options.stepTol) {
              converged = true; done = true
            }
        }
      }
    }
    Outcome(z, link, converged, steps, ce, z.map(-_), None, pass.fval,
      if (converged) "" else "penalty solve did not converge")
  }
}
