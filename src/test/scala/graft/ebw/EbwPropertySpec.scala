package graft.ebw

import graft.GraftSparkSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/**
 * Property-based fuzzing, the analogue of the reference's hypothesis tests
 * (/root/reference/test/test_parametric.py): for random positive problems,
 * entropy_balance either converges — in which case the weighted moments
 * match the targets — or reports failure cleanly; it never throws on
 * validated input.
 */
class EbwPropertySpec extends GraftSparkSuite {

  private val problemGen: Gen[(Array[Array[Double]], Array[Double], Int)] = for {
    n <- Gen.choose(10, 24)
    k <- Gen.choose(2, 4)
    seed <- Gen.choose(0L, 100000L)
  } yield {
    val rng = new scala.util.Random(seed)
    val x = Array.fill(n)(Array.fill(k)(
      (0.9 + 0.2 * rng.nextDouble()) * (if (rng.nextBoolean()) 1.0 else 0.0)))
    val w0 = Array.fill(n)(0.8 + 0.4 * rng.nextDouble())
    (x, w0, k)
  }

  private def runProp(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("feasible targets from an in-sample subpopulation converge and match") {
    runProp(Prop.forAll(problemGen) { case (x, w0, k) =>
      val n = x.length
      val half = n / 2
      val wHalf = (half until n).map(w0).sum
      val m = Array.tabulate(k)(j =>
        (half until n).map(i => w0(i) * x(i)(j)).sum / wHalf)
      val df = spark.createDataFrame(
        x.indices.map(i => (x(i).toSeq, w0(i)))).toDF("feat", "w0")
      val res = EntropyBalance.entropyBalance(df, "feat", "w0", m,
        options = EbwOptions(optimalityTol = 1e-8, maxSteps = 60))
      val sumW = w0.sum
      // converged => moments match; not converged is allowed (degenerate
      // hulls) as long as it was REPORTED, not thrown
      !res.converged || res.constraintViolations.zipWithIndex.forall {
        case (v, j) => math.abs(v) < 1e-4 * math.max(1.0, math.abs(m(j)) * sumW)
      }
    }, 12)
  }

  // ---- elastic / bounded-mode fuzz, the analogue of the reference's
  // test_parametric_elastic.py: random problems with random ratio bounds.

  /** Random positive problem plus random ratio bounds [lb, ub] and a
   * per-row feasible ratio r* strictly inside the bounds (10% margin), so
   * targets built from w0*r* are feasible BY CONSTRUCTION. First row is
   * forced all-positive so every moment column carries mass. */
  private val boundedGen: Gen[(Array[Array[Double]], Array[Double],
      Array[Double], Double, Double, Int)] = for {
    n <- Gen.choose(10, 24)
    k <- Gen.choose(2, 4)
    seed <- Gen.choose(0L, 100000L)
  } yield {
    val rng = new scala.util.Random(seed)
    val x = Array.tabulate(n) { i =>
      Array.fill(k)((0.9 + 0.2 * rng.nextDouble()) *
        (if (i == 0 || rng.nextBoolean()) 1.0 else 0.0))
    }
    val w0 = Array.fill(n)(0.8 + 0.4 * rng.nextDouble())
    val lb = 0.5 + 0.4 * rng.nextDouble()   // [0.5, 0.9]
    val ub = 1.1 + 0.9 * rng.nextDouble()   // [1.1, 2.0]
    val margin = 0.1 * (ub - lb)
    val rStar = Array.fill(n)(lb + margin + (ub - lb - 2 * margin) * rng.nextDouble())
    (x, w0, rStar, lb, ub, k)
  }

  test("elastic fuzz: feasible bounds => ratios in bounds and moments match " +
      "(test_parametric_elastic.py::test_interface_positive_float_inputs)") {
    runProp(Prop.forAll(boundedGen) { case (x, w0, rStar, lb, ub, k) =>
      val n = x.length
      val sumW = w0.sum
      // targets of the known in-bounds weighting w* = w0 * r*
      val m = Array.tabulate(k)(j =>
        x.indices.map(i => w0(i) * rStar(i) * x(i)(j)).sum / sumW)
      val df = spark.createDataFrame(
        x.indices.map(i => (x(i).toSeq, w0(i)))).toDF("feat", "w0")
      val res = EntropyBalance.entropyBalance(df, "feat", "w0", m,
        options = EbwOptions(bounds = Some((lb, Some(ub))),
          optimalityTol = 1e-8, maxStepsBounded = 120))
      val rows = res.weighted.select("weight_new", "w0").collect()
      val ratiosOk = rows.forall { r =>
        val ratio = r.getDouble(0) / r.getDouble(1)
        ratio >= lb - 1e-9 && ratio <= ub + 1e-9
      }
      // bounds hold unconditionally (the clipped link guarantees them);
      // a converged feasible solve must also match the targets
      val momentsOk = !res.converged || res.constraintViolations.zipWithIndex
        .forall { case (v, j) =>
          math.abs(v) < 1e-3 * math.max(1.0, math.abs(m(j)) * sumW)
        }
      ratiosOk && momentsOk
    }, 10)
  }

  test("elastic fuzz: infeasible bounds => bounds respected and converged " +
      "solves land on min-L1 (test_parametric_elastic.py linprog cross-check)") {
    runProp(Prop.forAll(boundedGen) { case (x, w0, _, lb0, ub0, k) =>
      val n = x.length
      val sumW = w0.sum
      // tight bounds + targets scaled ABOVE what ub*w0 can reach: with
      // x >= 0 every moment maxes simultaneously at w = ub*w0, so the
      // problem is infeasible by construction and the min-L1 violation is
      // exactly sum_j (c - ub) * (A'w0)_j
      val lb = math.min(lb0, 0.9)
      val ub = math.min(ub0, 1.3)
      val c = ub + 1.0
      val base = Array.tabulate(k)(j => x.indices.map(i => w0(i) * x(i)(j)).sum)
      val m = base.map(bj => c * bj / sumW)
      val minL1 = base.map(bj => (c - ub) * bj).sum
      val df = spark.createDataFrame(
        x.indices.map(i => (x(i).toSeq, w0(i)))).toDF("feat", "w0")
      val res = EntropyBalance.entropyBalance(df, "feat", "w0", m,
        options = EbwOptions(bounds = Some((lb, Some(ub))),
          optimalityTol = 1e-8, maxStepsBounded = 120))
      val rows = res.weighted.select("weight_new", "w0").collect()
      val ratiosOk = rows.forall { r =>
        val ratio = r.getDouble(0) / r.getDouble(1)
        ratio >= lb - 1e-9 && ratio <= ub + 1e-9
      }
      val l1 = res.constraintViolations.map(math.abs).sum
      // never claims feasibility (l1 >= minL1 is a mathematical identity
      // for any in-bounds w; the solver must also not do materially WORSE
      // than the min-L1 optimum it is defined to find). Like the feasible
      // property, non-convergence is tolerated as long as it is REPORTED
      // (deterministic convergence coverage lives in EbwSolverSpec's
      // fixed-seed infeasible test) — a random hard instance must not
      // flake the suite.
      val minL1Ok = !res.converged ||
        (l1 >= minL1 * (1.0 - 1e-6) && l1 <= minL1 * 1.02 + 1e-6)
      ratiosOk && minL1Ok
    }, 10)
  }

  test("grouped elastic fuzz: per-group feasible bounds => every group " +
      "solves within bounds and matches its own targets") {
    val gen: Gen[(Int, Long, Double, Double)] = for {
      nGroups <- Gen.choose(2, 4)
      seed <- Gen.choose(0L, 100000L)
    } yield {
      val rng = new scala.util.Random(seed)
      (nGroups, seed, 0.5 + 0.4 * rng.nextDouble(), 1.1 + 0.9 * rng.nextDouble())
    }
    runProp(Prop.forAll(gen) { case (nGroups, seed, lb, ub) =>
      val rng = new scala.util.Random(seed)
      val k = 2
      val margin = 0.1 * (ub - lb)
      // per group: its own rows, its own in-bounds r*, its own targets
      val rows = scala.collection.mutable.Buffer.empty[(String, Seq[Double], Double)]
      val targets = (0 until nGroups).map { g =>
        val n = 8 + rng.nextInt(12)
        val x = Array.fill(n)(Array.fill(k)(
          (0.9 + 0.2 * rng.nextDouble()) * (if (rng.nextBoolean()) 1.0 else 0.0)))
        val w0 = Array.fill(n)(0.8 + 0.4 * rng.nextDouble())
        val rStar = Array.fill(n)(
          lb + margin + (ub - lb - 2 * margin) * rng.nextDouble())
        val sumW = w0.sum
        x.indices.foreach(i => rows += ((s"g$g", x(i).toSeq, w0(i))))
        s"g$g" -> Array.tabulate(k)(j =>
          x.indices.map(i => w0(i) * rStar(i) * x(i)(j)).sum / sumW)
      }.toMap
      val df = spark.createDataFrame(rows.toSeq).toDF("grp", "feat", "w0")
      val res = GroupedEntropyBalance.entropyBalanceGrouped(df, "grp", "feat",
        "w0", targets, options = EbwOptions(bounds = Some((lb, Some(ub))),
          optimalityTol = 1e-8, maxStepsBounded = 120))
      // bounds hold for EVERY row regardless of convergence
      val ratios = res.weighted
        .select(org.apache.spark.sql.functions.col("weight_new") /
          org.apache.spark.sql.functions.col("w0"))
        .collect().map(_.getDouble(0))
      val ratiosOk = ratios.forall(r => r >= lb - 1e-9 && r <= ub + 1e-9)
      // each converged group matches ITS targets (per-group sumW scaling)
      val sumWByG = rows.groupBy(_._1).map { case (g, rs) => g -> rs.map(_._3).sum }
      val momentsOk = res.groups.forall { case (g, gr) =>
        !gr.converged || gr.constraintViolations.zipWithIndex.forall {
          case (v, j) =>
            math.abs(v) < 1e-3 * math.max(1.0, math.abs(targets(g)(j)) * sumWByG(g))
        }
      }
      ratiosOk && momentsOk
    }, 8)
  }

  test("grouped elastic == per-group single elastic solves (weight-level " +
      "equivalence on random feasible bounds)") {
    // The grouped/single equivalence is spec'd for exact and penalty modes
    // in GroupedSpec; this closes the remaining pairing: on the SAME rows,
    // targets, and ratio bounds, the grouped solver's weights for a group
    // must match an independent single-problem solve of just that group.
    val gen: Gen[(Int, Long, Double, Double)] = for {
      nGroups <- Gen.choose(2, 3)
      seed <- Gen.choose(0L, 100000L)
    } yield {
      val rng = new scala.util.Random(seed)
      (nGroups, seed, 0.5 + 0.4 * rng.nextDouble(), 1.1 + 0.9 * rng.nextDouble())
    }
    runProp(Prop.forAll(gen) { case (nGroups, seed, lb, ub) =>
      val rng = new scala.util.Random(seed)
      val k = 2
      val margin = 0.1 * (ub - lb)
      val rows = scala.collection.mutable.Buffer.empty[(Long, String, Seq[Double], Double)]
      var nextId = 0L
      val targets = (0 until nGroups).map { g =>
        val n = 8 + rng.nextInt(10)
        val x = Array.fill(n)(Array.fill(k)(
          (0.9 + 0.2 * rng.nextDouble()) * (if (rng.nextBoolean()) 1.0 else 0.0)))
        val w0 = Array.fill(n)(0.8 + 0.4 * rng.nextDouble())
        val rStar = Array.fill(n)(
          lb + margin + (ub - lb - 2 * margin) * rng.nextDouble())
        val sumW = w0.sum
        x.indices.foreach { i =>
          rows += ((nextId, s"g$g", x(i).toSeq, w0(i))); nextId += 1
        }
        s"g$g" -> Array.tabulate(k)(j =>
          x.indices.map(i => w0(i) * rStar(i) * x(i)(j)).sum / sumW)
      }.toMap
      val opts = EbwOptions(bounds = Some((lb, Some(ub))),
        optimalityTol = 1e-9, maxStepsBounded = 150)
      val df = spark.createDataFrame(rows.toSeq).toDF("id", "grp", "feat", "w0")
      val grouped = GroupedEntropyBalance.entropyBalanceGrouped(
        df, "grp", "feat", "w0", targets, options = opts)
      val groupedW = grouped.weighted.select("id", "weight_new")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      (0 until nGroups).forall { g =>
        val gName = s"g$g"
        val single = EntropyBalance.entropyBalance(
          df.filter(org.apache.spark.sql.functions.col("grp") === gName),
          "feat", "w0", targets(gName), options = opts)
        val singleW = single.weighted.select("id", "weight_new")
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val bothConverged = grouped.groups(gName).converged && single.converged
        // equivalence is asserted whenever both solves converged; a random
        // hard instance that fails to converge (reported, not thrown) must
        // not flake the suite
        !bothConverged || singleW.forall { case (id, ws) =>
          math.abs(groupedW(id) - ws) <= 1e-5 * math.max(1.0, math.abs(ws))
        }
      }
    }, 6)
  }

  test("weights stay positive and finite whenever the solver converges") {
    runProp(Prop.forAll(problemGen) { case (x, w0, k) =>
      val n = x.length
      val m = Array.tabulate(k)(j => x.map(_(j)).sum / n)
      val df = spark.createDataFrame(
        x.indices.map(i => (x(i).toSeq, w0(i)))).toDF("feat", "w0")
      val res = EntropyBalance.entropyBalance(df, "feat", "w0", m,
        options = EbwOptions(maxSteps = 40))
      !res.converged || {
        val ws = res.weighted.select("weight_new").collect().map(_.getDouble(0))
        ws.forall(w => w > 0.0 && !w.isInfinite && !w.isNaN)
      }
    }, 8)
  }
}
