package graft.ebw

import graft.GraftSparkSuite
import org.apache.spark.sql.DataFrame

/** Replicates the reference test suite numerically:
 * test_dense.py, test_sparse.py, test_colinear.py, test_elastic.py,
 * test_penalty.py (same problem shapes, same assertions). */
class EbwSolverSpec extends GraftSparkSuite {

  import org.apache.spark.sql.functions._

  private def denseDf(x: Array[Array[Double]], w0: Array[Double]): DataFrame = {
    val rows = x.indices.map(i => (x(i).toSeq, w0(i)))
    spark.createDataFrame(rows).toDF("feat", "w0")
  }

  /** Weighted totals X^T w_new, computed distributed. */
  private def weightedTotals(res: EbwResult, k: Int): Array[Double] = {
    val agg = (0 until k).map(j =>
      sum(col("feat").getItem(j) * col("weight_new")).as(s"m$j"))
    val r = res.weighted.agg(agg.head, agg.tail: _*).collect()(0)
    Array.tabulate(k)(j => r.getDouble(j))
  }

  test("aggregator Gram is the Jacobian of the moment map, all link modes " +
      "(test_equations.py::test_criterion_hess analogue in dual space)") {
    // The kernel contract every solver mode relies on: s_i(theta) =
    // sum w0 r(t) x_i and Gram_ij = sum w0 r'(t) x_i x_j, i.e. the packed
    // Gram IS the Jacobian ds/dtheta — for the penalty link
    // clip(exp(-t)) too, whose slope -exp(-t) aggregates as dS/dz = -G.
    // Verified by finite differences against the distributed aggregate
    // itself — dense and sparse row encodings must agree too. Deterministic seed keeps the CLIP case
    // away from measure-zero clip boundaries.
    val rng = new scala.util.Random(155)
    val n = 60
    val k = 4
    val dense = (0 until n).map { _ =>
      EbwRow(null, Array.fill(k)(rng.nextDouble() + 0.05), 0.5 + rng.nextDouble())
    }
    // same data, sparse encoding (all k entries listed explicitly)
    val sparse = dense.map(r => EbwRow(Array.tabulate(k)(identity), r.vals, r.w0))
    val rdd = spark.sparkContext.parallelize(dense, 4)
    val rddS = spark.sparkContext.parallelize(sparse, 4)
    val theta = Array.fill(k)(rng.nextDouble() * 0.4 - 0.2)
    val eps = 1e-6
    for (link <- Seq(Link.exp, Link(1.3, 0.7, 1.4),
        Link(-1.0, 0.0, Double.PositiveInfinity))) {
      val p0 = EbwAggregator.run(rdd, k, Array(theta), Array(link))(0)
      val p0s = EbwAggregator.run(rddS, k, Array(theta), Array(link))(0)
      for (i <- 0 until k) {
        assert(math.abs(p0.s(i) - p0s.s(i)) < 1e-12, s"dense/sparse s $i")
        for (j <- i until k)
          assert(math.abs(p0.gram(EbwAggregator.pidx(k, i, j)) -
            p0s.gram(EbwAggregator.pidx(k, i, j))) < 1e-12, s"dense/sparse gram")
      }
      // the sparse-Gram aggregation (big-k CG path) must produce the same
      // moment map and the same Gram entries as the dense triangle
      val pat = EbwAggregator.sparsePattern(rddS, k, depth = 2, direct = true)
      val pSp = try EbwAggregator.runPattern(pat, k, Array(theta), Array(link))(0)
        finally pat.release()
      for (i <- 0 until k)
        assert(math.abs(p0.s(i) - pSp.s(i)) < 1e-12, s"sparse-gram s $i")
      pSp.gramKeys.zip(pSp.gramVals).foreach { case (key, v) =>
        val (i, j) = ((key / k).toInt, (key % k).toInt) // packed i*k + j
        assert(math.abs(v - p0.gram(EbwAggregator.pidx(k, i, j))) < 1e-12,
          s"sparse-gram entry ($i,$j)")
      }
      // ...and no dense entry may be missing from it: one key per nonzero
      // triangle cell, in strictly ascending order
      assert(pSp.gramKeys.length == p0.gram.count(_ != 0.0),
        s"sparse-gram has ${pSp.gramKeys.length} keys, dense triangle " +
          s"${p0.gram.count(_ != 0.0)} nonzeros")
      for (p <- 1 until pSp.gramKeys.length)
        assert(pSp.gramKeys(p - 1) < pSp.gramKeys(p), s"sparse-gram key order at $p")
      for (j <- 0 until k) {
        val tj = theta.clone(); tj(j) += eps
        val pj = EbwAggregator.run(rdd, k, Array(tj), Array(link))(0)
        for (i <- 0 until k) {
          val fd = (pj.s(i) - p0.s(i)) / eps
          val g = p0.gram(EbwAggregator.pidx(k, math.min(i, j), math.max(i, j)))
          assert(math.abs(fd - g) < 1e-3 * (1.0 + math.abs(g)),
            s"link $link: ds_$i/dtheta_$j fd=$fd gram=$g")
        }
      }
    }
  }

  test("tiny hand-solvable dense (test_dense.py::test_simple)") {
    val df = denseDf(Array(Array(1.0), Array(2.0)), Array(1.0, 1.0))
    val res = EntropyBalance.entropyBalance(df, "feat", "w0", Array(1.5))
    assert(res.converged)
    val w = res.weighted.orderBy(col("feat").getItem(0)).select("weight_new")
      .collect().map(_.getDouble(0))
    val norm = w.map(_ / w.sum)
    assert(math.abs(norm(0) - 0.5) < 1e-6 && math.abs(norm(1) - 0.5) < 1e-6)
  }

  test("tiny hand-solvable 2 (test_dense.py::test_simple2)") {
    val df = denseDf(Array(Array(-1.0), Array(2.0)), Array(0.5, 0.5))
    val res = EntropyBalance.entropyBalance(df, "feat", "w0", Array(0.0))
    assert(res.converged)
    val w = res.weighted.orderBy(col("feat").getItem(0)).select("weight_new")
      .collect().map(_.getDouble(0))
    val norm = w.map(_ / w.sum)
    assert(math.abs(norm(0) - 2.0 / 3) < 1e-6) // x=-1 gets 2/3
    assert(math.abs(norm(1) - 1.0 / 3) < 1e-6)
  }

  test("complex dense example (test_dense.py::test_complex_dense_example)") {
    val rng = new scala.util.Random(12522)
    val n = 10000
    val k = 40
    val x = Array.fill(n)(Array.fill(k)(rng.nextDouble()))
    val m = Array.fill(k)(0.0)
    val sample = Array.fill(300)(Array.fill(k)(rng.nextDouble()))
    for (j <- 0 until k) m(j) = sample.map(_(j)).sum / 300.0
    val w0 = Array.fill(n)(1.0)
    val df = denseDf(x, w0).repartition(4)
    val res = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-9))
    assert(res.converged)
    val tot = weightedTotals(res, k)
    for (j <- 0 until k)
      assert(math.abs(tot(j) - m(j) * n) < 1e-3, s"moment $j: ${tot(j)} vs ${m(j) * n}")
  }

  test("sparse features (test_sparse.py)") {
    import org.apache.spark.ml.linalg.Vectors
    val rng = new scala.util.Random(7)
    val n = 5000
    val k = 12
    val rows = (0 until n).map { _ =>
      val j = rng.nextInt(k)
      (Vectors.sparse(k, Array(j), Array(1.0)), 1.0)
    }
    val df = spark.createDataFrame(rows).toDF("feat", "w0")
    val m = Array.fill(k)(1.0 / k)
    val res = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-9))
    assert(res.converged)
    assert(res.constraintViolations.map(math.abs).max < 1e-3)
  }

  test("collinear moments tolerated (test_colinear.py::test_colinear_dense)") {
    val rng = new scala.util.Random(100)
    val n = 100
    val x = Array.fill(n) {
      val a = rng.nextDouble()
      Array(a, -0.3 * a)
    }
    val msample = Array.fill(1000)(rng.nextDouble())
    val m0 = msample.sum / 1000.0
    val m = Array(m0, -0.3 * m0)
    val df = denseDf(x, Array.fill(n)(1.0))
    val res = EntropyBalance.entropyBalance(df, "feat", "w0", m)
    assert(res.converged)
    val tot = weightedTotals(res, 2)
    assert(math.abs(tot(0) - m(0) * n) < 1e-4)
    assert(math.abs(tot(1) - m(1) * n) < 1e-4)
  }

  test("bounded feasible equals unbounded (test_elastic.py::test_elastic_feasible)") {
    val rng = new scala.util.Random(10052)
    val n = 2000
    val k = 3
    val x = Array.fill(n)(Array.fill(k)(if (rng.nextBoolean()) 1.0 else 0.0))
    val w0 = Array.fill(n)(rng.nextDouble() + 0.5)
    val m = Array(0.5, 0.5, 0.5)
    val df = denseDf(x, w0)
    val resU = EntropyBalance.entropyBalance(df, "feat", "w0", m)
    val resB = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(bounds = Some((0.0, None))))
    assert(resU.converged && resB.converged)
    val sumW = w0.sum
    val totB = weightedTotals(resB, k)
    for (j <- 0 until k)
      assert(math.abs(totB(j) - m(j) * sumW) < 1e-3 * sumW * 1e-2 + 1e-3,
        s"moment $j: ${totB(j)} vs ${m(j) * sumW}")
    // weights agree with unbounded
    val joined = resU.weighted.select(col("feat"), col("weight_new").as("wu"))
      .withColumn("id", monotonically_increasing_id())
    val wU = resU.weighted.select("weight_new").collect().map(_.getDouble(0))
    val wB = resB.weighted.select("weight_new").collect().map(_.getDouble(0))
    val maxDiff = wU.zip(wB).map { case (a, b) => math.abs(a - b) }.max
    assert(maxDiff < 1e-4, s"max weight diff $maxDiff")
  }

  test("infeasible elastic converges with violations (test_elastic.py::test_elastic_infeasible)") {
    val rng = new scala.util.Random(10052)
    val n = 500
    val k = 20
    val x = Array.fill(n)(Array.fill(k)(if (rng.nextBoolean()) 1.0 else 0.0))
    var w0 = Array.fill(n)(rng.nextDouble() + 0.5)
    val mean = w0.sum / n
    w0 = w0.map(_ / mean)
    val m = Array.fill(k)(0.5)
    val df = denseDf(x, w0)
    val res = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(bounds = Some((0.95, Some(1.05)))))
    assert(res.converged)
    val vNorm = math.sqrt(res.constraintViolations.map(v => v * v).sum)
    assert(vNorm > 1.0, s"violations should be material, got $vNorm")
    // all ratios within bounds
    val ratios = res.weighted.select(col("weight_new") / col("w0")).collect()
      .map(_.getDouble(0))
    assert(ratios.forall(r => r >= 0.95 - 1e-9 && r <= 1.05 + 1e-9))
  }

  test("higher eta fits moments at least as well (test_elastic.py::test_elastic_infeasible_penalty)") {
    val rng = new scala.util.Random(10052)
    val n = 500
    val k = 20
    val x = Array.fill(n)(Array.fill(k)(if (rng.nextBoolean()) 1.0 else 0.0))
    var w0 = Array.fill(n)(rng.nextDouble() + 0.5)
    val mean = w0.sum / n
    w0 = w0.map(_ / mean)
    val m = Array.fill(k)(0.5)
    val df = denseDf(x, w0)
    val lo = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(bounds = Some((0.85, Some(1.25))), eta = Some(1.0)))
    val hi = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(bounds = Some((0.85, Some(1.25))), eta = Some(10.0)))
    assert(lo.converged && hi.converged)
    val l1lo = lo.constraintViolations.map(math.abs).sum
    val l1hi = hi.constraintViolations.map(math.abs).sum
    assert(l1hi <= l1lo + 1e-6, s"eta=10 L1=$l1hi should be <= eta=1 L1=$l1lo")
  }

  test("penalty: higher penalty matches moments more closely (test_penalty.py)") {
    val rng = new scala.util.Random(1252)
    val n = 2000
    val k = 3
    val x = Array.fill(n)(Array.fill(k)(rng.nextDouble()))
    val w0 = Array.fill(n)(1.0)
    val sample = Array.fill(300)(Array.fill(k)(rng.nextDouble()))
    val m = Array.tabulate(k)(j => sample.map(_(j)).sum / 300.0)
    val df = denseDf(x, w0)
    val lo = EntropyBalance.entropyBalancePenalty(df, "feat", "w0", m, Array(1.0))
    val hi = EntropyBalance.entropyBalancePenalty(df, "feat", "w0", m, Array(50.0))
    assert(lo.converged && hi.converged)
    val misLo = math.sqrt(lo.constraintViolations.map(v => v * v).sum)
    val misHi = math.sqrt(hi.constraintViolations.map(v => v * v).sum)
    assert(misHi < misLo, s"high penalty miss $misHi !< low penalty miss $misLo")
    assert(misLo > 1e-8) // penalty mode does NOT match exactly
  }

  test("sparse-Gram + CG path agrees with dense Cholesky path") {
    val rng = new scala.util.Random(12522)
    val n = 3000
    val k = 10
    val x = Array.fill(n)(Array.fill(k)(rng.nextDouble()))
    val sample = Array.fill(300)(Array.fill(k)(rng.nextDouble()))
    val m = Array.tabulate(k)(j => sample.map(_(j)).sum / 300.0)
    val df = denseDf(x, Array.fill(n)(1.0))
    // every mode on every Gram route of the Newton kernel: dense
    // Cholesky (default denseGramMax) against driver CG and CG with
    // distributed matvecs (denseGramMax = 1 forces the sparse path)
    val modes: Seq[(String, EbwOptions => EbwResult)] = Seq(
      "unbounded" -> (o => EntropyBalance.entropyBalance(df, "feat", "w0", m,
        options = o)),
      "elastic" -> (o => EntropyBalance.entropyBalance(df, "feat", "w0", m,
        options = o.copy(bounds = Some((0.5, Some(2.0)))))),
      "penalty" -> (o => EntropyBalance.entropyBalancePenalty(df, "feat", "w0",
        m, Array(10.0), options = o)))
    val base = EbwOptions(optimalityTol = 1e-9)
    for ((mode, solve) <- modes) {
      val dense = solve(base)
      assert(dense.converged, s"$mode dense")
      for (gramMode <- Seq("auto", "driver", "distributed")) {
        val sparse = solve(base.copy(denseGramMax = 1, gramMode = gramMode)) // force CG
        assert(sparse.converged, s"$mode $gramMode")
        val dl = dense.equalityMultipliers.zip(sparse.equalityMultipliers)
          .map { case (a, b) => math.abs(a - b) }.max
        assert(dl < 1e-6, s"$mode $gramMode: paths disagree by $dl")
      }
    }
  }

  test("large-k one-hot design runs the sparse path to the closed form") {
    import org.apache.spark.ml.linalg.Vectors
    val rng = new scala.util.Random(99)
    val n = 20000
    val k = 600 // > denseGramMax default: sparse Gram + CG
    val groups = Array.fill(n)(rng.nextInt(k))
    val rows = groups.toSeq.map(g => (Vectors.sparse(k, Array(g), Array(1.0)), 1.0, g))
    val df = spark.createDataFrame(rows).toDF("feat", "w0", "g")
    val m = Array.fill(k)(1.0 / k)
    val res = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-9))
    assert(res.converged)
    val counts = groups.groupBy(identity).view.mapValues(_.length).toMap
    val got = res.weighted.groupBy("g").agg(first("weight_new").as("w"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    counts.foreach { case (g, c) =>
      val expect = (n.toDouble / k) / c
      assert(math.abs(got(g) - expect) < 1e-6, s"group $g: ${got(g)} vs $expect")
    }
  }

  test("IPF raking: margins hit targets; fixed point == entropy " +
    "balancing on the two-margin problem (KL-projection equivalence)") {
    import org.apache.spark.ml.linalg.Vectors
    import spark.implicits._
    // skewed 2x3 contingency, w0 = 1
    val rng = new scala.util.Random(7)
    val rows = (0 until 900).map { _ =>
      val r = if (rng.nextDouble() < 0.7) "a" else "b"
      val c = rng.nextDouble() match {
        case x if x < 0.5 => "x"
        case x if x < 0.8 => "y"
        case _            => "z"
      }
      (r, c, 1.0)
    }
    val df = rows.toDF("r", "c", "w0")
    val rowT = Map("a" -> 0.6, "b" -> 0.4)
    val colT = Map("x" -> 0.2, "y" -> 0.5, "z" -> 0.3)
    val raked = Raking.ipf(df, "r", "c", "w0", rowT, colT,
      iters = 500, tol = 1e-14)
    val got = raked.groupBy("r", "c").agg(sum("weight_raked").as("w"))
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getDouble(2))
      .toMap
    val total = rows.length.toDouble
    rowT.foreach { case (r, t) =>
      val m = got.collect { case ((rr, _), w) if rr == r => w }.sum
      assert(math.abs(m - t * total) < 1e-6, s"row margin $r: $m") }
    colT.foreach { case (c, t) =>
      val m = got.collect { case ((_, cc), w) if cc == c => w }.sum
      assert(math.abs(m - t * total) < 1e-6, s"col margin $c: $m") }
    // EBW on the SAME margins as one-hot moment constraints: both
    // minimize KL from w0 subject to the margins -> identical weights
    val feat = df.map { r =>
      val (rr, cc) = (r.getString(0), r.getString(1))
      (rr, cc, Vectors.dense(
        if (rr == "a") 1.0 else 0.0, if (rr == "b") 1.0 else 0.0,
        if (cc == "x") 1.0 else 0.0, if (cc == "y") 1.0 else 0.0,
        if (cc == "z") 1.0 else 0.0), 1.0)
    }.toDF("r", "c", "feat", "w0")
    val m = Array(0.6, 0.4, 0.2, 0.5, 0.3)
    val res = EntropyBalance.entropyBalance(feat, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-12))
    assert(res.converged)
    val ebwCells = res.weighted.groupBy("r", "c")
      .agg(sum("weight_new").as("w"))
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getDouble(2))
      .toMap
    got.foreach { case (k, w) =>
      assert(math.abs(ebwCells(k) - w) < 1e-5,
        s"IPF and EBW disagree at $k: $w vs ${ebwCells(k)}") }
    // driver fold determinism: cell input order must not matter
    val (f1, _, _) = Raking.ipfFactors(
      Seq(("a", "x", 10.0), ("a", "y", 5.0), ("b", "x", 7.0)),
      Map("a" -> 0.6, "b" -> 0.4), Map("x" -> 0.5, "y" -> 0.5), 50, 0.0)
    val (f2, _, _) = Raking.ipfFactors(
      Seq(("b", "x", 7.0), ("a", "y", 5.0), ("a", "x", 10.0)),
      Map("a" -> 0.6, "b" -> 0.4), Map("x" -> 0.5, "y" -> 0.5), 50, 0.0)
    assert(f1 == f2, "factor fold must be input-order independent")
    // token-weighted raking (the ebw_token_mix form): w0 = a per-row
    // mass, margins are MASS shares, not row counts — after raking the
    // weighted margins hit the mass targets and each row's raked weight
    // stays proportional to its mass within a cell
    val wr = Seq(("a", "x", 10.0), ("a", "x", 30.0), ("a", "y", 20.0),
      ("b", "x", 25.0), ("b", "y", 15.0)).toDF("r", "c", "w0")
    val wRaked = Raking.ipf(wr, "r", "c", "w0",
      Map("a" -> 0.5, "b" -> 0.5), Map("x" -> 0.6, "y" -> 0.4),
      iters = 500, tol = 1e-14)
    val tot = 100.0
    val byR = wRaked.groupBy("r").agg(sum("weight_raked").as("w"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(byR("a") - 0.5 * tot) < 1e-6, s"mass row margin: $byR")
    val byC = wRaked.groupBy("c").agg(sum("weight_raked").as("w"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(byC("x") - 0.6 * tot) < 1e-6, s"mass col margin: $byC")
    val ax = wRaked.filter($"r" === "a" && $"c" === "x")
      .select("w0", "weight_raked").collect()
      .map(x => x.getDouble(1) / x.getDouble(0))
    assert(math.abs(ax(0) - ax(1)) < 1e-12,
      "within-cell raking factor must be mass-independent")
  }

  test("k=10^4 sparse poststrat solve converges through the CG path " +
    "(the reference's hundreds-of-thousands-of-constraints regime)") {
    // the EbwScaling canary's problem family at spec scale: 4 one-hot
    // blocks of 2500 cells (nnz/row = 4), targets = observed shares
    // perturbed ±5% alternately and block-renormalized — interior and
    // exactly feasible, so the solver has no excuse not to converge
    val n = 200000L
    val k = 10000
    val df = graft.EbwScaling.design(spark, n, k, blocks = 4).cache()
    try {
      val m = graft.EbwScaling.targets(spark, n, k, blocks = 4, eps = 0.05)
      assert(math.abs(m.sum - 4.0) < 1e-9, "block sums must be exactly 1")
      val res = EntropyBalance.entropyBalance(df, "features", "w0", m)
      assert(res.converged,
        s"k=1e4 solve must converge: ${res.errorMessage}")
      val viol = math.sqrt(res.constraintViolations.map(x => x * x).sum)
      // violations are on the A'w - m*sumW scale; tol * ||b|| bounds them
      assert(viol <= 1e-5 * n * 2.01,
        s"violation norm $viol out of tolerance")
      assert(res.nIterations <= 30, s"steps ${res.nIterations}")
    } finally df.unpersist()
  }

  test("bounded penalty respects bounds and tightens with penalty (ebw_penalty.py:252)") {
    val rng = new scala.util.Random(1252)
    val n = 1500
    val k = 3
    val x = Array.fill(n)(Array.fill(k)(rng.nextDouble()))
    val sample = Array.fill(300)(Array.fill(k)(rng.nextDouble()))
    val m = Array.tabulate(k)(j => sample.map(_(j)).sum / 300.0)
    val df = denseDf(x, Array.fill(n)(1.0))
    val lo = EntropyBalance.entropyBalancePenalty(df, "feat", "w0", m, Array(1.0),
      options = EbwOptions(bounds = Some((0.8, Some(1.3)))))
    val hi = EntropyBalance.entropyBalancePenalty(df, "feat", "w0", m, Array(30.0),
      options = EbwOptions(bounds = Some((0.8, Some(1.3)))))
    assert(lo.converged && hi.converged)
    for (res <- Seq(lo, hi)) {
      val rng2 = res.weighted
        .agg(min(col("weight_new") / col("w0")), max(col("weight_new") / col("w0")))
        .collect()(0)
      assert(rng2.getDouble(0) >= 0.8 - 1e-9 && rng2.getDouble(1) <= 1.3 + 1e-9)
    }
    val missLo = math.sqrt(lo.constraintViolations.map(v => v * v).sum)
    val missHi = math.sqrt(hi.constraintViolations.map(v => v * v).sum)
    assert(missHi <= missLo + 1e-9, s"bounded penalty: $missHi !<= $missLo")
  }

  test("save_problem_data / save_failure_data options (shared.py::dump, test_dump.py)") {
    val tmp = graft.ops.Scratch.dir("dump")
    val df = denseDf(Array(Array(1.0), Array(2.0)), Array(1.0, 1.0))
    // (mode, steps that leave the failing input unconverged, solve)
    val modes: Seq[(String, Int, (Array[Double], EbwOptions) => EbwResult)] = Seq(
      ("exact", 5, (m, o) => EntropyBalance.entropyBalance(df, "feat", "w0", m,
        options = o)),
      ("penalty", 1, (m, o) => EntropyBalance.entropyBalancePenalty(df, "feat",
        "w0", m, Array(1.0), options = o)))
    for ((mode, failSteps, solve) <- modes) {
      // success: problem dumped, failure file absent
      assert(solve(Array(1.5), EbwOptions(saveProblemData = Some(s"$tmp/$mode-ok"),
        saveFailureData = Some(s"$tmp/$mode-okfail"))).converged, mode)
      assert(new java.io.File(s"$tmp/$mode-ok/meta").exists(), mode)
      assert(!new java.io.File(s"$tmp/$mode-okfail").exists(), mode)
      val (loaded, m2) = ProblemIO.load(spark, s"$tmp/$mode-ok")
      assert(m2.toSeq == Seq(1.5) && loaded.count() == 2, mode)
      // infeasible (negative target with positive x is unreachable for any
      // positive weights) -> failure dump written
      val bad = solve(Array(-1.0), EbwOptions(maxSteps = failSteps,
        saveFailureData = Some(s"$tmp/$mode-fail")))
      assert(!bad.converged, mode)
      assert(new java.io.File(s"$tmp/$mode-fail/meta").exists(), mode)
    }
  }

  test("auto-eta grows until feasible bounded problems match exactly") {
    // total-weight constraint + a strongly shifted mean: the true
    // multipliers exceed eta0=1, so the box pins and eta must grow
    // (ebw_routines.py:576-584 analogue)
    val rng = new scala.util.Random(77)
    val n = 800
    val x = Array.fill(n)(Array(1.0, rng.nextDouble()))
    val m = Array(1.0, 0.75) // keep total weight; shift mean 0.5 -> 0.75
    val df = denseDf(x, Array.fill(n)(1.0))
    val res = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(bounds = Some((0.0, None)), optimalityTol = 1e-8))
    assert(res.converged)
    assert(res.eta.exists(_ > 1.0), s"eta should have grown, got ${res.eta}")
    assert(res.constraintViolations.map(math.abs).max < 1e-3 * n)
    assert(res.equalityMultipliers.map(math.abs).max > 1.0) // needed the growth
  }

  test("invalid inputs rejected (shared.py::inputs_are_invalid)") {
    val df = denseDf(Array(Array(1.0), Array(2.0)), Array(1.0, -1.0))
    val e = intercept[IllegalArgumentException] {
      EntropyBalance.entropyBalance(df, "feat", "w0", Array(1.5))
    }
    assert(e.getMessage.contains("invalid values"))
    val df2 = denseDf(Array(Array(Double.NaN), Array(2.0)), Array(1.0, 1.0))
    intercept[IllegalArgumentException] {
      EntropyBalance.entropyBalance(df2, "feat", "w0", Array(1.5))
    }
    // null ELEMENT inside the feature array must be rejected, not unboxed to 0.0
    val dfNull = spark.createDataFrame(Seq(
      (Seq[java.lang.Double](1.0, null), 1.0),
      (Seq[java.lang.Double](2.0, 1.0), 1.0))).toDF("feat", "w0")
    intercept[IllegalArgumentException] {
      EntropyBalance.entropyBalance(dfNull, "feat", "w0", Array(1.5, 0.5))
    }
    // mismatched warm-start length must fail fast on the driver
    intercept[IllegalArgumentException] {
      EntropyBalance.entropyBalance(df, "feat", "w0", Array(1.5),
        options = EbwOptions(initialMultipliers = Some(Array(0.0, 0.0))))
    }
  }

  test("Link.exp is exp(min(t, 700)) with slope r, bit for bit") {
    for (t <- Seq(Double.NegativeInfinity, -1e9, -800.0, -745.2, -1.0, -0.0,
        0.0, 1e-300, 1.0, 699.9, 700.0, 1e9, Double.PositiveInfinity)) {
      val (r, rp) = Link.exp.rAndSlope(t)
      val want = java.lang.Double.doubleToRawLongBits(math.exp(math.min(t, 700.0)))
      assert(java.lang.Double.doubleToRawLongBits(r) == want, s"r at t=$t")
      assert(java.lang.Double.doubleToRawLongBits(rp) == want, s"slope at t=$t")
    }
  }

  test("unbounded solve from a NaN initial multiplier stops on the NaN check") {
    val df = denseDf(Array(Array(1.0, 0.5), Array(2.0, 1.0), Array(0.5, 3.0)),
      Array(1.0, 1.0, 1.0))
    val res = EntropyBalance.entropyBalance(df, "feat", "w0", Array(1.5, 1.5),
      options = EbwOptions(initialMultipliers = Some(Array(Double.NaN, 0.0))))
    assert(!res.converged)
    assert(res.errorMessage == "NaN in optimality conditions", res.errorMessage)
  }

  test("primal warm start (initial_ratio_guess parity) cuts iteration count") {
    val rng = new scala.util.Random(12522)
    val n = 10000
    val k = 40
    val x = Array.fill(n)(Array.fill(k)(rng.nextDouble()))
    val m = Array.fill(k)(0.0)
    val sample = Array.fill(300)(Array.fill(k)(rng.nextDouble()))
    for (j <- 0 until k) m(j) = sample.map(_(j)).sum / 300.0
    val df = denseDf(x, Array.fill(n)(1.0)).repartition(4).cache()
    val cold = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-9))
    assert(cold.converged && cold.nIterations > 1)
    // ratio guess = the solved ratios (a previous run's weights): log r is
    // exactly in span(X), so the LS seed recovers lambda* and the solve
    // should need at most one step
    val guessed = cold.weighted
      .withColumn("r_guess", col("weight_new") / col("w0"))
    val warm = EntropyBalance.entropyBalance(guessed, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-9,
        initialRatioGuessCol = Some("r_guess")))
    assert(warm.converged)
    assert(warm.nIterations < cold.nIterations,
      s"warm=${warm.nIterations} cold=${cold.nIterations}")
    assert(warm.nIterations <= 1, s"warm start took ${warm.nIterations} steps")
    // a noisy guess still helps (seed is a projection, noise is off-span)
    val noisy = guessed.withColumn("r_noisy",
      col("r_guess") * exp((rand(7) - 0.5) * 0.01))
    val warm2 = EntropyBalance.entropyBalance(noisy, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-9,
        initialRatioGuessCol = Some("r_noisy")))
    assert(warm2.converged)
    assert(warm2.nIterations <= cold.nIterations)
    // explicit dual warm start takes precedence; invalid ratios don't crash
    val mixedGuess = guessed.withColumn("r_bad",
      when(col("w0") > 0.5, col("r_guess")).otherwise(lit(-1.0)))
    val warm3 = EntropyBalance.entropyBalance(mixedGuess, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-9,
        initialRatioGuessCol = Some("r_bad")))
    assert(warm3.converged)
    df.unpersist()
  }

  test("evaluate: criterion parity at lambda=0 and at the optimum") {
    val df = denseDf(Array(Array(1.0), Array(2.0)), Array(1.0, 1.0))
    val m = Array(1.5)
    // lambda = 0 -> r = 1: KL term is zero, violation = A'w0 - m*sumW
    val at0 = EntropyBalance.evaluate(df, "feat", "w0", m, Array(0.0))
    assert(math.abs(at0.criterionValue) < 1e-15)
    assert(math.abs(at0.constraintViolations(0) - (3.0 - 1.5 * 2.0)) < 1e-12)
    assert(math.abs(at0.weightTotal - 2.0) < 1e-12)
    // at the solved multipliers the violation vanishes and the criterion
    // matches the solver's reported value
    val res = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-12))
    val atOpt = EntropyBalance.evaluate(df, "feat", "w0", m,
      res.equalityMultipliers)
    assert(atOpt.violationNorm < 1e-9)
    assert(math.abs(atOpt.criterionValue - res.criterionValue) < 1e-12)
  }

  test("a sparse-driver solve releases every RDD it cached: converged, " +
      "not converged, and failing after its first pass") {
    import org.apache.spark.ml.linalg.Vectors
    val rng = new scala.util.Random(31)
    val k = 600 // > denseGramMax: the cached Gram pattern route
    val rows = (0 until 3000).map(i =>
      (Vectors.sparse(k, Array(i % k), Array(1.0)), 0.5 + rng.nextDouble()))
    val df = spark.createDataFrame(rows).toDF("feat", "w0")
    val m = Array.fill(k)(1.0 / k)
    val sc = spark.sparkContext
    def solverRdds: Set[Int] = sc.getPersistentRDDs.collect {
      case (id, r) if r.name != null &&
        (r.name.startsWith("ebw-input-") || r.name.startsWith("ebw-gram-pattern-")) => id
    }.toSet
    val before = solverRdds
    def leaked: Set[Int] = solverRdds -- before
    val ok = EntropyBalance.entropyBalance(df, "feat", "w0", m)
    assert(ok.converged, ok.errorMessage)
    assert(leaked.isEmpty, s"converged solve left $leaked")
    val stopped = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(maxSteps = 1))
    assert(!stopped.converged)
    assert(leaked.isEmpty, s"non-converged solve left $leaked")
    // the problem dump runs after every pass; a path below a regular file
    // makes it throw
    val file = java.io.File.createTempFile("ebw-release", ".txt")
    try {
      intercept[Exception] {
        EntropyBalance.entropyBalance(df, "feat", "w0", m,
          options = EbwOptions(saveProblemData = Some(s"${file.getPath}/dump")))
      }
      assert(leaked.isEmpty, s"failed solve left $leaked")
    } finally file.delete()
  }

  test("poststratification closed form via one-hot design") {
    // disjoint exhaustive groups: EBW == exact poststratification
    val rng = new scala.util.Random(42)
    val n = 1000
    val g = 4
    val groups = Array.fill(n)(rng.nextInt(g))
    val df = spark.createDataFrame(groups.toSeq.map(x => Tuple1(s"g$x")))
      .toDF("grp").withColumn("w0", lit(1.0))
    val (dfv, labels) = DesignMatrix.oneHot(df, "grp", "feat")
    val m = Array.fill(g)(1.0 / g)
    val res = EntropyBalance.entropyBalance(dfv, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-10))
    assert(res.converged)
    val counts = groups.groupBy(identity).view.mapValues(_.length).toMap
    val got = res.weighted.groupBy("grp").agg(first("weight_new").as("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (gi <- 0 until g) {
      val expect = (n.toDouble / g) / counts(gi)
      assert(math.abs(got(s"g$gi") - expect) < 1e-7,
        s"group $gi: ${got(s"g$gi")} vs $expect")
    }
  }
}
