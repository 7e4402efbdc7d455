package graft.ebw

import graft.GraftSparkSuite
import org.apache.spark.sql.functions._

class GroupedSpec extends GraftSparkSuite {

  test("grouped solve equals independent per-group solves") {
    val cust = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
      .withColumn("bal_k", col("c_acctbal") / 1000.0)
      .withColumn("w0", lit(1.0))
      .withColumn("feat", array(col("bal_k")))
    val segs = cust.select("c_mktsegment").distinct()
      .collect().map(_.getString(0)).sorted
    // per-group target: that group's subpop (custkey%2==0) mean
    val targets = segs.map { s =>
      val m = cust.filter(col("c_mktsegment") === s && col("c_custkey") % 2 === 0)
        .agg(avg("bal_k")).collect()(0).getDouble(0)
      s -> Array(m)
    }.toMap

    val grouped = GroupedEntropyBalance.entropyBalanceGrouped(
      cust, "c_mktsegment", "feat", "w0", targets,
      options = EbwOptions(optimalityTol = 1e-9, maxSteps = 60))
    assert(grouped.allConverged,
      grouped.groups.map { case (g, r) => s"$g:${r.converged}" }.mkString(","))

    // independent solves must give the same weights
    val groupedW = grouped.weighted.select(col("c_custkey"), col("weight_new"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (s <- segs) {
      val sub = cust.filter(col("c_mktsegment") === s)
      val solo = EntropyBalance.entropyBalance(sub, "feat", "w0", targets(s),
        options = EbwOptions(optimalityTol = 1e-9))
      assert(solo.converged)
      val soloW = solo.weighted.select(col("c_custkey"), col("weight_new"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val maxDiff = soloW.map { case (id, w) => math.abs(w - groupedW(id)) }.max
      assert(maxDiff < 1e-6, s"segment $s weights differ by $maxDiff")
    }
    // per-group moment checks
    grouped.groups.foreach { case (g, r) =>
      assert(r.constraintViolations.map(math.abs).max < 1e-4, s"$g violations")
    }
  }

  test("grouped sparse-Gram path (k > denseGramMax) matches the closed form and the dense path") {
    import spark.implicits._
    // 20 independent poststratification problems with k=550 one-hot levels:
    // dense grouped buffers would be 20 * (1+550+550*551/2) doubles/task;
    // the sparse path accumulates only the realized diagonal
    val nGroups = 20
    val k = 550
    val rows = for {
      g <- 0 until nGroups
      level <- 0 until k
      rep <- 0 until (1 + (g + level) % 3)
    } yield (s"g$g", level)
    val df = rows.toDF("grp", "level")
      .withColumn("w0", lit(1.0))
      .repartition(4)
    val (dfv, labels) = DesignMatrix.oneHot(df, "level", "feat")
    assert(labels.length == k)
    val targets = (0 until nGroups).map(g => s"g$g" -> Array.fill(k)(1.0 / k)).toMap
    val opts = EbwOptions(optimalityTol = 1e-10, maxSteps = 60) // denseGramMax=512 < k
    val sparseRes = GroupedEntropyBalance.entropyBalanceGrouped(
      dfv, "grp", "feat", "w0", targets, options = opts)
    assert(sparseRes.allConverged)
    // closed form: weight(g, level) = (sumW_g / k) / count(g, level)
    val counts = rows.groupBy(identity).view.mapValues(_.length).toMap
    val sumWg = (0 until nGroups).map(g =>
      s"g$g" -> (0 until k).map(l => counts((s"g$g", l))).sum.toDouble).toMap
    val got = sparseRes.weighted
      .groupBy("grp", "level").agg(first("weight_new").as("w"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    var maxErr = 0.0
    for (g <- 0 until nGroups; l <- 0 until k) {
      val key = (s"g$g", l)
      val expect = (sumWg(s"g$g") / k) / counts(key)
      maxErr = math.max(maxErr, math.abs(got(key) - expect))
    }
    assert(maxErr < 1e-6, s"sparse grouped max weight error $maxErr")
    // forcing the dense path on the same problem gives the same solution
    val denseRes = GroupedEntropyBalance.entropyBalanceGrouped(
      dfv, "grp", "feat", "w0", targets,
      options = opts.copy(denseGramMax = 4096))
    assert(denseRes.allConverged)
    val dW = denseRes.weighted
      .groupBy("grp", "level").agg(first("weight_new").as("w"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val pathDiff = got.map { case (key, w) => math.abs(w - dW(key)) }.max
    assert(pathDiff < 1e-8, s"sparse vs dense grouped paths differ by $pathDiff")
  }

  test("grouped sparse round on the direct and the keyed-tree reduction: " +
    "both match the closed form and each other, the direct one repeats bit " +
    "for bit, and no ebw-* RDD outlives the call") {
    import spark.implicits._
    // the 20-group k=550 poststratification problem of the test above, on
    // 4 partitions (every depth-2 partial reaches the driver unmerged: the
    // direct reduction) and on 8 (the keyed treeAggregate)
    val nGroups = 20
    val k = 550
    val rows = for {
      g <- 0 until nGroups
      level <- 0 until k
      rep <- 0 until (1 + (g + level) % 3)
    } yield (s"g$g", level)
    assert(EbwSizing.finalParts(4, 2) == 4 && EbwSizing.finalParts(8, 2) < 8)
    val targets = (0 until nGroups).map(g => s"g$g" -> Array.fill(k)(1.0 / k)).toMap
    val opts = EbwOptions(optimalityTol = 1e-10, maxSteps = 60)
    val counts = rows.groupBy(identity).view.mapValues(_.length).toMap
    val sumWg = (0 until nGroups).map(g =>
      s"g$g" -> (0 until k).map(l => counts((s"g$g", l))).sum.toDouble).toMap
    val sc = spark.sparkContext
    def ebwRdds = sc.getPersistentRDDs.values.filter(r =>
      r.name != null && r.name.startsWith("ebw-")).map(_.name).toSeq
    def solve(parts: Int) = {
      val (dfv, _) = DesignMatrix.oneHot(
        rows.toDF("grp", "level").withColumn("w0", lit(1.0)).repartition(parts),
        "level", "feat")
      val res = GroupedEntropyBalance.entropyBalanceGrouped(
        dfv, "grp", "feat", "w0", targets, options = opts)
      assert(ebwRdds.isEmpty, s"$parts partitions left ${ebwRdds}")
      assert(res.allConverged, s"$parts partitions")
      val w = res.weighted
        .groupBy("grp", "level").agg(first("weight_new").as("w"))
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
      var maxErr = 0.0
      for (g <- 0 until nGroups; l <- 0 until k) {
        val key = (s"g$g", l)
        maxErr = math.max(maxErr,
          math.abs(w(key) - (sumWg(s"g$g") / k) / counts(key)))
      }
      assert(maxErr < 1e-6, s"$parts partitions: max weight error $maxErr")
      (res, w)
    }
    val direct = Seq.fill(3)(solve(4))
    val (_, tree) = solve(8)
    val diff = direct.head._2.map { case (key, w) => math.abs(w - tree(key)) }.max
    assert(diff < 1e-9, s"direct vs keyed-tree weights differ by $diff")
    val bits = direct.map { case (res, _) =>
      res.groups.toSeq.sortBy(_._1).map { case (g, r) =>
        g -> r.multipliers.map(java.lang.Double.doubleToRawLongBits).toSeq
      }
    }
    assert(bits.distinct.size == 1, "direct-reduction multipliers differ between solves")
  }

  test("grouped sparse-Gram path over an empty input (no partitions) converges trivially") {
    import spark.implicits._
    val k = 600
    val df = Seq.empty[(String, Seq[Double], Double)].toDF("grp", "feat", "w0")
    val res = GroupedEntropyBalance.entropyBalanceGrouped(
      df, "grp", "feat", "w0", Map("a" -> Array.fill(k)(1.0 / k)))
    assert(res.allConverged)
    assert(res.groups("a").multipliers.forall(_ == 0.0))
    assert(res.weighted.count() == 0)
  }

  test("grouped dense path over an empty input (no partitions) converges trivially") {
    import spark.implicits._
    val df = Seq.empty[(String, Seq[Double], Double)].toDF("grp", "feat", "w0")
    val res = GroupedEntropyBalance.entropyBalanceGrouped(
      df, "grp", "feat", "w0", Map("a" -> Array(0.5, 0.5)))
    assert(res.allConverged)
    assert(res.groups("a").multipliers.forall(_ == 0.0))
    assert(res.weighted.count() == 0)
  }

  test("both grouped solvers reject invalid rows on the dense and the " +
    "sparse route with the single solver's message") {
    import org.apache.spark.ml.linalg.Vectors
    import spark.implicits._
    val k = 3
    val good = (0 until 6).map(i => ("a", Vectors.dense(1.0, i.toDouble, 0.5), 1.0))
    def vecs(bad: (String, org.apache.spark.ml.linalg.Vector, Double)) =
      (good :+ bad).toDF("grp", "feat", "w0")
    val inputs = Seq(
      "NaN w0" -> vecs(("a", Vectors.dense(1.0, 1.0, 1.0), Double.NaN)),
      "non-positive w0" -> vecs(("a", Vectors.dense(1.0, 1.0, 1.0), 0.0)),
      "out-of-range sparse index" ->
        vecs(("a", Vectors.sparse(k + 1, Array(0, k), Array(1.0, 1.0)), 1.0)),
      "null array element" -> spark.createDataFrame(Seq(
        ("a", Seq[java.lang.Double](1.0, 0.0, 0.5), 1.0),
        ("a", Seq[java.lang.Double](1.0, null, 0.5), 1.0))).toDF("grp", "feat", "w0"))
    val targets = Map("a" -> Array(1.0, 2.0, 0.5))
    for ((what, df) <- inputs; denseGramMax <- Seq(512, 0)) {
      val opts = EbwOptions(denseGramMax = denseGramMax)
      val solvers = Seq[(String, () => Any)](
        "exact" -> (() => GroupedEntropyBalance.entropyBalanceGrouped(
          df, "grp", "feat", "w0", targets, options = opts)),
        "penalty" -> (() => GroupedEntropyBalance.entropyBalancePenaltyGrouped(
          df, "grp", "feat", "w0", targets, Array(10.0), options = opts)))
      for ((solver, solve) <- solvers) {
        val e = intercept[IllegalArgumentException](solve())
        assert(e.getMessage.startsWith("Inputs include invalid values"),
          s"$solver, $what, denseGramMax=$denseGramMax: ${e.getMessage}")
      }
    }
  }

  test("validate's per-group w0 sums repeat bit for bit over 8 partitions") {
    val rng = new scala.util.Random(808)
    val nG = 3
    val rows = (0 until 4000).map { i =>
      EbwRow(null, Array(rng.nextDouble()), 0.1 + rng.nextDouble() * 1e3, i % nG)
    }
    val rdd = spark.sparkContext.parallelize(rows, 8)
    val runs = (0 until 5).map { _ =>
      val (bad, sumW, n, _) = EbwAggregator.validate(rdd, 1, nG)
      assert(bad == 0 && n == rows.length)
      sumW.map(java.lang.Double.doubleToRawLongBits).toSeq
    }
    assert(runs.distinct.size == 1, runs.toString)
  }

  test("grouped distributed-Gram tier: gramMode=distributed shards groups " +
    "across single-problem solves and matches the shared sparse pass") {
    import spark.implicits._
    // same one-hot construction as the sparse-pass test at 4 groups;
    // gramMode=distributed forces the sharded tier (the auto route
    // engages it only past the real driver envelope, which a unit test
    // should not try to exhaust)
    val nGroups = 4
    val k = 550
    val rows = for {
      g <- 0 until nGroups
      level <- 0 until k
      rep <- 0 until (1 + (g + level) % 3)
    } yield (s"g$g", level)
    val df = rows.toDF("grp", "level")
      .withColumn("w0", lit(1.0))
      .repartition(4)
    val (dfv, labels) = DesignMatrix.oneHot(df, "level", "feat")
    assert(labels.length == k)
    // one planted EMPTY group: the tier must converge it trivially
    // (multipliers 0, ratio 1), never feed it to the single solver's
    // empty-input validation error
    val targets = ((0 until nGroups).map(g =>
      s"g$g" -> Array.fill(k)(1.0 / k)) :+
      ("g_empty" -> Array.fill(k)(1.0 / k))).toMap
    val opts = EbwOptions(optimalityTol = 1e-10, maxSteps = 60)
    val sharded = GroupedEntropyBalance.entropyBalanceGrouped(
      dfv, "grp", "feat", "w0", targets,
      options = opts.copy(gramMode = "distributed"))
    assert(sharded.allConverged,
      sharded.groups.map { case (g, r) => s"$g:${r.converged}" }.mkString(","))
    assert(sharded.groups("g_empty").multipliers.forall(_ == 0.0))
    val shared = GroupedEntropyBalance.entropyBalanceGrouped(
      dfv, "grp", "feat", "w0", targets, options = opts)
    val sW = sharded.weighted
      .groupBy("grp", "level").agg(first("weight_new").as("w"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val gW = shared.weighted
      .groupBy("grp", "level").agg(first("weight_new").as("w"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val diff = sW.map { case (key, w) => math.abs(w - gW(key)) }.max
    assert(diff < 1e-6, s"sharded vs shared grouped paths differ by $diff")
  }

  test("sharded tier co-schedules: 4 groups' wall is well under 4x one " +
    "group's wall (the round-14 sequential-shards gap)") {
    import spark.implicits._
    val k = 550
    def frame(nGroups: Int) = {
      val rows = for {
        g <- 0 until nGroups
        level <- 0 until k
        rep <- 0 until (1 + (g + level) % 3)
      } yield (s"g$g", level)
      DesignMatrix.oneHot(
        rows.toDF("grp", "level").withColumn("w0", lit(1.0)).repartition(4),
        "level", "feat")._1
    }
    val opts = EbwOptions(optimalityTol = 1e-10, maxSteps = 60,
      gramMode = "distributed")
    def wall(nGroups: Int): Double = {
      val targets = (0 until nGroups)
        .map(g => s"g$g" -> Array.fill(k)(1.0 / k)).toMap
      val t0 = System.nanoTime
      val res = GroupedEntropyBalance.entropyBalanceGrouped(
        frame(nGroups), "grp", "feat", "w0", targets, options = opts)
      assert(res.allConverged)
      (System.nanoTime - t0) / 1e9
    }
    wall(1) // JIT/codegen warmup so t1 is not inflated in the solver's favor
    val t1 = wall(1)
    val t4 = wall(4)
    // sequential shards would cost ~4x t1 (round-14 measured exactly
    // that); co-scheduling must land clearly below — 3x leaves room for
    // scheduler noise while still failing a sequential regression
    assert(t4 < 3.0 * t1,
      f"4-group sharded wall $t4%.1fs vs 1-group $t1%.1fs — shards look sequential")
  }

  test("grouped damped Newton matches the line-searched single solver on extreme targets") {
    import spark.implicits._
    // targets 98.5% of the way to the feature maximum: weights concentrate
    // on the upper tail — the regime where a damped loop would oscillate
    // if Newton on the entropy dual were not globally well-behaved
    val rng = new scala.util.Random(11)
    val rows = for (g <- 0 until 6; _ <- 0 until 800) yield
      (s"g$g", Seq(rng.nextDouble(), rng.nextDouble()), 1.0)
    val df = rows.toDF("grp", "feat", "w0").repartition(4)
    val targets = (0 until 6).map(g => s"g$g" -> Array(0.985, 0.985)).toMap
    val res = GroupedEntropyBalance.entropyBalanceGrouped(df, "grp", "feat", "w0",
      targets, options = EbwOptions(optimalityTol = 1e-8, maxSteps = 200))
    assert(res.allConverged)
    val maxIters = res.groups.values.map(_.nIterations).max
    val solo = EntropyBalance.entropyBalance(df.filter(col("grp") === "g0"),
      "feat", "w0", targets("g0"),
      options = EbwOptions(optimalityTol = 1e-8, maxSteps = 200))
    assert(solo.converged)
    // the shared-pass damped loop must not need materially more rounds
    // than the per-problem Armijo line search
    assert(maxIters <= solo.nIterations + 5,
      s"grouped=$maxIters vs solo=${solo.nIterations}")
    res.groups.values.foreach(r =>
      assert(r.constraintViolations.map(math.abs).max < 1e-4))
  }

  test("grouped penalty equals per-group single penalty solves") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("w0", lit(1.0))
    val (dfv, labels) = DesignMatrix.oneHot(orders, "o_orderpriority", "feat")
    val k = labels.length
    val statuses = orders.select(col("o_orderstatus").cast("string")).distinct()
      .collect().map(_.getString(0))
    val targets = statuses.map(s => s -> Array.fill(k)(1.0 / k)).toMap
    val opts = EbwOptions(optimalityTol = 1e-10)
    // the shared dense round pass, and the sharded tier (every group a
    // single-problem solve on the distributed-Gram route)
    for (gOpts <- Seq(opts, opts.copy(denseGramMax = 1, gramMode = "distributed"))) {
      val grouped = GroupedEntropyBalance.entropyBalancePenaltyGrouped(
        dfv, "o_orderstatus", "feat", "w0", targets, Array(2.0), options = gOpts)
      assert(grouped.allConverged,
        grouped.groups.map { case (g, r) => s"$g:${r.converged}" }.mkString(","))
      val gw = grouped.weighted.select(col("o_orderkey"), col("weight_new"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      for (s <- statuses) {
        val sub = dfv.filter(col("o_orderstatus") === s)
        val solo = EntropyBalance.entropyBalancePenalty(sub, "feat", "w0",
          Array.fill(k)(1.0 / k), Array(2.0), options = opts)
        assert(solo.converged)
        val soloW = solo.weighted.select(col("o_orderkey"), col("weight_new"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val maxDiff = soloW.map { case (id, w) => math.abs(w - gw(id)) }.max
        assert(maxDiff < 1e-7,
          s"status $s penalty weights differ by $maxDiff (${gOpts.gramMode})")
      }
    }
    // both grouped solvers check gramMode and shardParallelism at entry,
    // on the large-k route and on the dense one, which uses neither
    for (bad <- Seq(opts.copy(gramMode = "bogus"), opts.copy(shardParallelism = 0));
        denseGramMax <- Seq(1, opts.denseGramMax)) {
      val o = bad.copy(denseGramMax = denseGramMax)
      val solvers = Seq[(String, () => Any)](
        "exact" -> (() => GroupedEntropyBalance.entropyBalanceGrouped(
          dfv, "o_orderstatus", "feat", "w0", targets, options = o)),
        "penalty" -> (() => GroupedEntropyBalance.entropyBalancePenaltyGrouped(
          dfv, "o_orderstatus", "feat", "w0", targets, Array(2.0), options = o)))
      for ((solver, solve) <- solvers) {
        val e = intercept[IllegalArgumentException](solve())
        assert(e.getMessage.contains("gramMode must be") ||
          e.getMessage.contains("shardParallelism must be"),
          s"$solver, denseGramMax=$denseGramMax: ${e.getMessage}")
      }
    }
    // bounded grouped penalty stays within bounds
    val boundedRes = GroupedEntropyBalance.entropyBalancePenaltyGrouped(
      dfv, "o_orderstatus", "feat", "w0", targets, Array(50.0),
      options = opts.copy(bounds = Some((0.97, Some(1.03)))))
    val rng = boundedRes.weighted
      .agg(min(col("weight_new") / col("w0")), max(col("weight_new") / col("w0")))
      .collect()(0)
    assert(rng.getDouble(0) >= 0.97 - 1e-9 && rng.getDouble(1) <= 1.03 + 1e-9)
  }

  test("grouped bounded: loose bounds match unbounded, tight bounds clip per group") {
    val cust = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
      .withColumn("bal_k", col("c_acctbal") / 1000.0)
      .withColumn("w0", lit(1.0))
      .withColumn("feat", array(col("bal_k")))
    val segs = cust.select("c_mktsegment").distinct().collect().map(_.getString(0)).sorted
    val targets = segs.map { s =>
      val m = cust.filter(col("c_mktsegment") === s && col("c_custkey") % 2 === 0)
        .agg(avg("bal_k")).collect()(0).getDouble(0)
      s -> Array(m)
    }.toMap
    val free = GroupedEntropyBalance.entropyBalanceGrouped(cust, "c_mktsegment",
      "feat", "w0", targets, options = EbwOptions(optimalityTol = 1e-9))
    val loose = GroupedEntropyBalance.entropyBalanceGrouped(cust, "c_mktsegment",
      "feat", "w0", targets,
      options = EbwOptions(optimalityTol = 1e-9, bounds = Some((0.01, Some(100.0)))))
    assert(free.allConverged && loose.allConverged)
    val wf = free.weighted.select(col("c_custkey"), col("weight_new"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val wl = loose.weighted.select(col("c_custkey"), col("weight_new"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val maxDiff = wf.map { case (id, w) => math.abs(w - wl(id)) }.max
    assert(maxDiff < 1e-5, s"loose-bounded grouped differs from unbounded by $maxDiff")
    // tight bounds: every group's ratios clipped into [0.97, 1.03]
    val tight = GroupedEntropyBalance.entropyBalanceGrouped(cust, "c_mktsegment",
      "feat", "w0", targets,
      options = EbwOptions(bounds = Some((0.97, Some(1.03))), eta = Some(1.0)))
    assert(tight.allConverged)
    val rng = tight.weighted
      .agg(min(col("weight_new") / col("w0")), max(col("weight_new") / col("w0")))
      .collect()(0)
    assert(rng.getDouble(0) >= 0.97 - 1e-9 && rng.getDouble(1) <= 1.03 + 1e-9)
  }

  test("rows in groups without targets keep w0 and are not solved") {
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .withColumn("bal_k", col("c_acctbal") / 1000.0)
      .withColumn("w0", lit(1.0))
      .withColumn("feat", array(col("bal_k")))
    val only = Map("BUILDING" -> Array(4.5))
    val res = GroupedEntropyBalance.entropyBalanceGrouped(
      cust, "c_mktsegment", "feat", "w0", only,
      options = EbwOptions(optimalityTol = 1e-8))
    assert(res.groups.keySet == Set("BUILDING"))
    val others = res.weighted.filter(col("c_mktsegment") =!= "BUILDING")
      .filter(col("weight_new") =!= col("w0")).count()
    assert(others == 0, "untargeted groups must keep original weights")
    // ... even when bounds exclude ratio 1 (regression: clip(1) would
    // silently rescale untargeted rows to the lower bound)
    val bounded = GroupedEntropyBalance.entropyBalanceGrouped(
      cust, "c_mktsegment", "feat", "w0", only,
      options = EbwOptions(optimalityTol = 1e-8,
        bounds = Some((2.0, Some(5.0))), eta = Some(1.0)))
    val othersB = bounded.weighted.filter(col("c_mktsegment") =!= "BUILDING")
      .filter(col("weight_new") =!= col("w0")).count()
    assert(othersB == 0, "bounds must not rescale untargeted groups")
  }
}
