package graft.ebw

import graft.GraftSparkSuite
import org.apache.spark.sql.functions._

/**
 * Cross-implementation solver-parity fixtures: committed problem zips in
 * the reference's exact `dump_problem_to_zip` layout (shared.py:136-155)
 * whose OPTIMAL WEIGHTS are known closed-form. The generator
 * (tools/make_ebw_solved_fixture.py) plants multipliers lambda* and
 * derives the moments FROM w* = w0 * clip(exp(x . lambda*), lb, ub) —
 * KKT then makes w* the strictly-convex program's unique optimum, an
 * engine-invariant mathematical fact: any correct implementation (the
 * reference package included, which cannot run in this sandbox — its
 * scipy/pypardiso/MKL deps need network) must return exactly these
 * weights. Tol 1e-6 is the round-12 verdict's parity criterion.
 */
class SolvedFixtureSpec extends GraftSparkSuite {

  private def expected(name: String): Array[Double] =
    NpyIO.read(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource(s"/$name").getPath))).toDoubles

  private def check(zip: String, wname: String, opts: EbwOptions): Unit = {
    val (df, m) = ProblemIO.loadReferenceZip(spark,
      getClass.getResource(s"/$zip").getPath)
    // single partition + narrow weight column = fixture row order
    // survives to collect, so weights align positionally
    val res = EntropyBalance.entropyBalance(
      df.coalesce(1), "features", "w0", m, options = opts)
    assert(res.converged, s"$zip did not converge")
    val got = res.weighted.select(col("weight_new")).collect()
      .map(_.getDouble(0))
    val want = expected(wname)
    assert(got.length == want.length, s"$zip: ${got.length} weights")
    val dmax = got.zip(want).map { case (a, b) => math.abs(a - b) }.max
    assert(dmax < 1e-6,
      s"$zip: weights deviate from the planted optimum by $dmax")
  }

  test("dense fixture: unbounded optimum reproduced within 1e-6") {
    check("ref_solved_dense.zip", "ref_solved_dense_w.npy",
      EbwOptions(optimalityTol = 1e-11))
  }

  test("sparse CSR fixture: one-hot poststratification optimum " +
    "reproduced within 1e-6") {
    check("ref_solved_sparse.zip", "ref_solved_sparse_w.npy",
      EbwOptions(optimalityTol = 1e-11))
  }

  test("bounded fixture: ratio bounds (0.8, 1.25) BIND on 51 of 80 rows " +
    "and the clipped optimum is reproduced within 1e-6") {
    check("ref_solved_bounded.zip", "ref_solved_bounded_w.npy",
      EbwOptions(optimalityTol = 1e-11, bounds = Some((0.8, Some(1.25)))))
    // the planted construction clips 24 rows low and 27 high — verify
    // the solve actually exercised the clamp, not the interior path
    val (df, m) = ProblemIO.loadReferenceZip(spark,
      getClass.getResource("/ref_solved_bounded.zip").getPath)
    val res = EntropyBalance.entropyBalance(df.coalesce(1), "features",
      "w0", m, options = EbwOptions(optimalityTol = 1e-11,
        bounds = Some((0.8, Some(1.25)))))
    val ratios = res.weighted
      .select((col("weight_new") / col("w0")).as("r")).collect()
      .map(_.getDouble(0))
    assert(ratios.count(r => math.abs(r - 0.8) < 1e-7) == 24, "lo clamp")
    assert(ratios.count(r => math.abs(r - 1.25) < 1e-7) == 27, "hi clamp")
  }
}
