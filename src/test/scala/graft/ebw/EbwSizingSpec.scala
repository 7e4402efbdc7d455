package graft.ebw

import graft.GraftSparkSuite

/**
 * Pins the sparse-Gram sizing heuristic (EbwSizing) and proves the
 * distributed-Gram path (EbwAggregator.gramRdd + DriverLinalg.cgSolveRdd)
 * solves the SAME systems as the driver path — the round-11 answer to the
 * two documented N=1e7 cliffs (driver OOM on merged partials;
 * maxResultSize trip): below the budget nothing changes, above it the
 * solve keeps converging with O(k) driver traffic instead of dying.
 */
class EbwSizingSpec extends GraftSparkSuite {

  private val GiB = 1L << 30

  test("plan: concurrency-aware partial sizing — 32 cores in one 8 GiB " +
    "JVM shrink per-partition partials (the N=1e7/k=1e5 OOM shape)") {
    // sumPairs = 1e8 with NO cell collisions (k=1e5 realizes the upper
    // bound): cores=1 sizing picks 48 partitions (~2.1M entries each,
    // ~200 MiB in-heap at build headroom) — fine alone, fatal 32-at-once.
    val solo = EbwSizing.plan(k = 100000, sumPairs = 100000000L,
      currentParts = 32, maxResultSize = 1 * GiB, maxHeap = 8 * GiB)
    val packed = EbwSizing.plan(k = 100000, sumPairs = 100000000L,
      currentParts = 32, maxResultSize = 1 * GiB, maxHeap = 8 * GiB,
      cores = 32)
    assert(solo.partitions == 48, s"legacy sizing: ${solo.partitions}")
    assert(packed.partitions >= 143, s"concurrent partials must shrink " +
      s"below heap/4/cores: ${packed.partitions}")
    // the concurrent in-flight set stays inside a quarter of the heap
    val perPart = 100000000L / packed.partitions *
      EbwSizing.BuildBytesPerEntry
    assert(perPart * 32 <= 2L * GiB + (64L << 20), s"in-flight $perPart x32")
    assert(packed.distributedGram, packed.why)
    // the reduce side honors the same budget
    val agg = EbwSizing.gramAggParts(packed, 8 * GiB, 32)
    assert(100000000L / agg * EbwSizing.BuildBytesPerEntry <=
      EbwSizing.perTaskPartialBytes(8 * GiB, 32) + (1L << 20), s"agg=$agg")
  }

  test("plan: the N=1e7 poststrat shape exceeds the default driver budget " +
    "and routes to the distributed Gram") {
    // N=1e7, nnz/row=4 -> sumPairs = 1e8; k=1e4 -> realized-Gram cap 5e7
    // entries. Serialized partials total ~3.2 GB: no tree depth can land
    // that under a 1 GiB maxResultSize, and the merged map alone wants
    // ~4.8 GB of an 8 GiB heap.
    val p = EbwSizing.plan(k = 10000, sumPairs = 100000000L,
      currentParts = 32, maxResultSize = 1 * GiB, maxHeap = 8 * GiB)
    assert(p.distributedGram, p.why)
    assert(p.partitions >= 48, s"partials must shrink: ${p.partitions}")
    assert(p.partitions <= EbwSizing.MaxPartitions)
    assert(p.gramCapEntries == 50005000L - 0L + 0L || p.gramCapEntries == 50005000L,
      s"gram cap ${p.gramCapEntries}")
  }

  test("plan: a small sparse problem keeps the driver path and current " +
    "partitioning") {
    // k=1000, 50k rows at nnz=4 -> sumPairs=5e5 (~16 MB serialized):
    // comfortably inside both budgets
    val p = EbwSizing.plan(k = 1000, sumPairs = 500000L, currentParts = 32,
      maxResultSize = 1 * GiB, maxHeap = 8 * GiB)
    assert(!p.distributedGram, p.why)
    assert(p.partitions == 32, s"no repartition needed: ${p.partitions}")
    assert(p.driverCollectBytes < (64L << 20), s"${p.driverCollectBytes}")
  }

  test("plan: the benchmark shape and the N=1e6 5-partition tiers take " +
    "the direct reduction") {
    // graftbench ebw_sparse_poststrat: N=5e4 rows at nnz=4, k=1e3, 4 parts
    val bench = EbwSizing.plan(k = 1000, sumPairs = 500000L, currentParts = 4,
      maxResultSize = 1 * GiB, maxHeap = 8 * GiB, cores = 4, rows = 50000L)
    assert(bench.partitions == 4 && bench.depth == 2 && bench.direct, bench)
    // EbwScaling N=1e6 at nnz=4 (sumPairs=1e7) on 4 cores, k=1e3 and 1e5
    for (k <- Seq(1000, 100000)) {
      val tier = EbwSizing.plan(k = k, sumPairs = 10000000L, currentParts = 4,
        maxResultSize = 1 * GiB, maxHeap = 8 * GiB, cores = 4, rows = 1000000L)
      assert(tier.partitions == 5 && tier.direct && !tier.distributedGram, tier)
    }
  }

  test("plan: treeAggregate final-partial model and depth choice") {
    // scale = ceil(sqrt(48)) = 7; 48 > 7 + ceil(48/7) = 14 -> 48/7 = 6
    // (INTEGER division, the RDD.treeAggregate body); 6 <= 7 + 1 stops.
    assert(EbwSizing.finalParts(48, 2) == 6)
    assert(EbwSizing.finalParts(1, 2) == 1)
    assert(EbwSizing.finalParts(4096, 3) >= 2)
    // depth choice always lands in the searched range
    val p = EbwSizing.plan(k = 5000, sumPairs = 20000000L, currentParts = 16,
      maxResultSize = 1 * GiB, maxHeap = 8 * GiB)
    assert(p.depth >= 2 && p.depth <= 4)
  }

  test("plan: a comfortably-fitting problem stays at depth 2 — deeper " +
    "trees are a rescue lever, not a collect-bytes micro-optimization") {
    // The regression shape: N=1e6 rows at nnz=4 (sumPairs=1e7), k=1e4.
    // collectBytes ties at ~305 MiB for depths 2 and 3 (64-byte ceil
    // rounding) and minBy-on-bytes picked 3, costing a full extra
    // executor-side merge round (~1.8x per aggregation pass, measured).
    val p = EbwSizing.plan(k = 10000, sumPairs = 10000000L, currentParts = 32,
      maxResultSize = 1 * GiB, maxHeap = 8 * GiB)
    assert(!p.distributedGram, p.why)
    assert(p.depth == 2, s"fitting problem must use the shallowest tree: ${p.depth}")
  }

  test("plan: depth deepens only when it rescues the driver path from a " +
    "tight maxResultSize") {
    // k=1e3 Gram (~500k entries) over sumPairs=1e8: depth 2 collects
    // 6 partials (~96 MB) — over an 80%-of-64MiB budget — while depth 3's
    // 2 partials (~32 MB) fit, so the plan deepens and stays driver-mode.
    val p = EbwSizing.plan(k = 1000, sumPairs = 100000000L, currentParts = 32,
      maxResultSize = 64L << 20, maxHeap = 8 * GiB)
    assert(!p.distributedGram, p.why)
    assert(p.depth == 3, s"expected the rescue depth: ${p.depth} (${p.why})")
  }

  test("requireDriverFits: forced driver mode fails fast with a sized, " +
    "actionable message") {
    val p = EbwSizing.plan(k = 10000, sumPairs = 100000000L,
      currentParts = 32, maxResultSize = 1 * GiB, maxHeap = 8 * GiB)
    val e = intercept[IllegalStateException] {
      EbwSizing.requireDriverFits(p, 1 * GiB, 8 * GiB)
    }
    assert(e.getMessage.contains("maxResultSize"), e.getMessage)
    assert(e.getMessage.contains("MiB"), e.getMessage)
    assert(e.getMessage.contains("gramMode"), e.getMessage)
  }

  /** Deterministic sparse SPD test system: diagonally dominant upper-tri
   * Gram over k coordinates with ~4 off-diagonal entries per row. */
  private def spdSystem(k: Int, seed: Int): (Array[Long], Array[Double]) = {
    val rng = new scala.util.Random(seed)
    val keys = scala.collection.mutable.ArrayBuffer[Long]()
    val vals = scala.collection.mutable.ArrayBuffer[Double]()
    for (i <- 0 until k) {
      keys += i.toLong * k + i
      vals += 8.0 + rng.nextDouble()
      for (_ <- 0 until 4) {
        val j = i + 1 + rng.nextInt(math.max(1, k - i - 1))
        if (j < k) { keys += i.toLong * k + j; vals += rng.nextDouble() * 0.5 }
      }
    }
    (keys.toArray, vals.toArray)
  }

  test("cgSolveRdd == cgSolve on the same sparse system (plain, masked, " +
    "and sign=-1 penalty form)") {
    val k = 80
    val (keys, vals) = spdSystem(k, 41)
    val rng = new scala.util.Random(7)
    val rhs = Array.fill(k)(rng.nextDouble() - 0.5)
    val diag = Array.fill(k)(0.3)
    val ridge = 1e-8
    val sc = spark.sparkContext
    val gram = sc.parallelize(keys.zip(vals).toSeq, 6)
    val (rows, cols) = DriverLinalg.decode(k, keys)

    val d1 = DriverLinalg.cgSolve(k, rows, cols, vals, diag, rhs, ridge, null)
    val r1 = DriverLinalg.cgSolveRdd(gram, k, diag, rhs, ridge, null)
    val e1 = d1.zip(r1).map { case (a, b) => math.abs(a - b) }.max /
      math.max(1.0, d1.map(math.abs).max)
    assert(e1 < 1e-8, s"plain parity: $e1")

    val free = Array.tabulate(k)(i => i % 3 != 0)
    val d2 = DriverLinalg.cgSolve(k, rows, cols, vals, diag, rhs, ridge, free)
    val r2 = DriverLinalg.cgSolveRdd(gram, k, diag, rhs, ridge, free)
    val e2 = d2.zip(r2).map { case (a, b) => math.abs(a - b) }.max /
      math.max(1.0, d2.map(math.abs).max)
    assert(e2 < 1e-8, s"masked parity: $e2")

    // the penalty path hands the driver CG NEGATED values and the
    // distributed CG the raw RDD with sign=-1: same effective system
    val negGram = sc.parallelize(keys.zip(vals.map(-_)).toSeq, 6)
    val d3 = DriverLinalg.cgSolve(k, rows, cols, vals, diag, rhs, ridge, null)
    val r3 = DriverLinalg.cgSolveRdd(negGram, k, diag, rhs, ridge, null, sign = -1.0)
    val e3 = d3.zip(r3).map { case (a, b) => math.abs(a - b) }.max /
      math.max(1.0, d3.map(math.abs).max)
    assert(e3 < 1e-8, s"sign parity: $e3")
  }

  test("entropyBalance gramMode=distributed converges to the driver-path " +
    "solution (k=600 one-hot, closed form)") {
    import org.apache.spark.ml.linalg.Vectors
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(99)
    val n = 6000
    val k = 600 // > denseGramMax: sparse path
    val groups = Array.fill(n)(rng.nextInt(k))
    val rows = groups.toSeq.map(g => (Vectors.sparse(k, Array(g), Array(1.0)), 1.0, g))
    val df = spark.createDataFrame(rows).toDF("feat", "w0", "g")
    val m = Array.fill(k)(1.0 / k)
    val drv = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-9, gramMode = "driver"))
    val dst = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-9, gramMode = "distributed"))
    assert(drv.converged && dst.converged,
      s"converged drv=${drv.converged} dst=${dst.converged}: ${dst.errorMessage}")
    val dl = drv.equalityMultipliers.zip(dst.equalityMultipliers)
      .map { case (a, b) => math.abs(a - b) }.max
    assert(dl < 1e-6, s"multiplier paths disagree by $dl")
    // closed form: per-group weight = (n/k) / count(g)
    val counts = groups.groupBy(identity).view.mapValues(_.length).toMap
    val got = dst.weighted.groupBy("g").agg(first("weight_new").as("w"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    counts.foreach { case (g, c) =>
      val expect = (n.toDouble / k) / c
      assert(math.abs(got(g) - expect) < 1e-6, s"group $g: ${got(g)} vs $expect")
    }
  }

  test("elastic and penalty modes under gramMode=distributed match their " +
    "driver-path solutions") {
    import org.apache.spark.ml.linalg.Vectors
    val rng = new scala.util.Random(17)
    val n = 4000
    val k = 550
    val groups = Array.fill(n)(rng.nextInt(k))
    val rows = groups.toSeq.map(g => (Vectors.sparse(k, Array(g), Array(1.0)), 1.0))
    val df = spark.createDataFrame(rows).toDF("feat", "w0")
    val m = Array.fill(k)(1.0 / k)

    val bounds = Some((0.05, Some(20.0): Option[Double]))
    val eDrv = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(bounds = bounds, gramMode = "driver"))
    val eDst = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(bounds = bounds, gramMode = "distributed"))
    assert(eDrv.converged && eDst.converged)
    val de = eDrv.constraintViolations.zip(eDst.constraintViolations)
      .map { case (a, b) => math.abs(a - b) }.max
    assert(de < 1e-6, s"elastic violations disagree by $de")

    val pen = Array.fill(k)(50.0)
    val pDrv = EntropyBalance.entropyBalancePenalty(df, "feat", "w0", m, pen,
      options = EbwOptions(gramMode = "driver"))
    val pDst = EntropyBalance.entropyBalancePenalty(df, "feat", "w0", m, pen,
      options = EbwOptions(gramMode = "distributed"))
    assert(pDrv.converged && pDst.converged)
    val dp = pDrv.equalityMultipliers.zip(pDst.equalityMultipliers)
      .map { case (a, b) => math.abs(a - b) }.max
    assert(dp < 1e-6, s"penalty multipliers disagree by $dp")
  }
}
