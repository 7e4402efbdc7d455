package graft.pipeline

import graft.GraftSparkSuite
import org.apache.spark.ml.Pipeline
import org.apache.spark.sql.functions._

import graft.ebw.{DesignMatrix, EbwOptions, EntropyBalance, ProblemIO}

class PipelineSpec extends GraftSparkSuite {

  private def cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    .withColumn("bal_k", col("c_acctbal") / 1000.0)
    .withColumn("lownation", when(col("c_nationkey") < 13, 1.0).otherwise(0.0))
    .withColumn("w0", lit(1.0))
    .withColumn("feat", array(col("bal_k"), col("lownation")))

  private def targets(df: org.apache.spark.sql.DataFrame): Array[Double] = {
    val r = df.filter(col("c_custkey") % 3 === 0)
      .agg(avg("bal_k"), avg("lownation")).collect()(0)
    Array(r.getDouble(0), r.getDouble(1))
  }

  test("EntropyBalanceWeighter fits in an MLlib Pipeline and transforms") {
    val df = cust
    val m = targets(df)
    val ebw = new EntropyBalanceWeighter()
      .setFeaturesCol("feat").setWeightCol("w0").setOutputCol("w_new")
      .setTargetMoments(m).setOptimalityTol(1e-9)
    val pipe = new Pipeline().setStages(Array(ebw))
    val model = pipe.fit(df)
    val out = model.transform(df)
    assert(out.columns.contains("w_new"))
    val tot = out.agg(
      sum(col("bal_k") * col("w_new")).as("s0"),
      sum(col("lownation") * col("w_new")).as("s1"),
      sum("w0").as("w")).collect()(0)
    assert(math.abs(tot.getDouble(0) / tot.getDouble(2) - m(0)) < 1e-6)
    assert(math.abs(tot.getDouble(1) / tot.getDouble(2) - m(1)) < 1e-6)
    val inner = model.stages(0).asInstanceOf[EntropyBalanceModel]
    assert(inner.converged)
    assert(inner.multipliers.length == 2)
  }

  test("grouped weighter: Pipeline fit matches entropyBalanceGrouped, transforms fresh data") {
    import graft.ebw.GroupedEntropyBalance
    val df = cust.withColumn("grp",
      when(col("c_mktsegment").isin("BUILDING", "MACHINERY"), col("c_mktsegment"))
        .otherwise("OTHER"))
    // per-group targets from a deterministic subpopulation of that group
    val grpTargets = df.select("grp").distinct().collect().map(_.getString(0)).map { g =>
      val r = df.filter(col("grp") === g && col("c_custkey") % 3 === 0)
        .agg(avg("bal_k"), avg("lownation")).collect()(0)
      g -> Array(r.getDouble(0), r.getDouble(1))
    }.toMap
    val ebw = new EntropyBalanceWeighter()
      .setFeaturesCol("feat").setWeightCol("w0").setOutputCol("w_new")
      .setGroupCol("grp").setGroupTargets(grpTargets).setOptimalityTol(1e-9)
    val pipe = new Pipeline().setStages(Array(ebw))
    val model = pipe.fit(df)
    val inner = model.stages(0).asInstanceOf[EntropyBalanceModel]
    assert(inner.isGrouped && inner.converged)
    assert(inner.groupedState.get.groups.keySet == grpTargets.keySet)
    // transform == the grouped solver's own weighted output, row for row
    val direct = GroupedEntropyBalance.entropyBalanceGrouped(
      df, "grp", "feat", "w0", grpTargets, "w_new",
      graft.ebw.EbwOptions(optimalityTol = 1e-9)).weighted
      .select("c_custkey", "w_new").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaPipe = model.transform(df).select("c_custkey", "w_new").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaPipe.keySet == direct.keySet)
    viaPipe.foreach { case (k, w) => assert(math.abs(w - direct(k)) < 1e-12) }
    // per-group moments hit their targets through the Pipeline transform
    grpTargets.foreach { case (g, m) =>
      val t = model.transform(df).filter(col("grp") === g)
        .agg(sum(col("bal_k") * col("w_new")).as("s0"),
          sum(col("lownation") * col("w_new")).as("s1"), sum("w0").as("w"))
        .collect()(0)
      assert(math.abs(t.getDouble(0) / t.getDouble(2) - m(0)) < 1e-6, s"group $g m0")
      assert(math.abs(t.getDouble(1) / t.getDouble(2) - m(1)) < 1e-6, s"group $g m1")
    }
    // single-mode accessors guard against grouped misuse
    intercept[IllegalStateException](inner.result)
  }

  test("bounded weighter clips ratios") {
    val df = cust
    val m = targets(df)
    val model = new EntropyBalanceWeighter()
      .setFeaturesCol("feat").setWeightCol("w0").setOutputCol("w_new")
      .setTargetMoments(m).setBounds(0.8, Some(1.2))
      .fit(df)
    val rng = model.transform(df)
      .agg(min(col("w_new") / col("w0")), max(col("w_new") / col("w0"))).collect()(0)
    assert(rng.getDouble(0) >= 0.8 - 1e-9 && rng.getDouble(1) <= 1.2 + 1e-9)
  }

  test("penalty weighter matches entropyBalancePenalty; setRatioBounds " +
    "is the py4j-friendly bounds path") {
    val df = cust
    val m = targets(df)
    // penalty mode: result equals the direct entropyBalancePenalty call
    val pw = new EntropyBalanceWeighter()
      .setFeaturesCol("feat").setWeightCol("w0").setOutputCol("w_new")
      .setTargetMoments(m).setPenalty(Array(1e6))
    val pm = pw.fit(df)
    assert(pm.converged)
    val direct = EntropyBalance.entropyBalancePenalty(
      df, "feat", "w0", m, Array(1e6), "w_direct")
    val cmp = pm.transform(direct.weighted)
      .agg(max(abs(col("w_new") - col("w_direct")))).collect()(0)
    assert(cmp.getDouble(0) < 1e-12, s"facade != direct: $cmp")
    // setRatioBounds(lb, +inf) == setBounds(lb, None): ratios clipped
    val bw = new EntropyBalanceWeighter()
      .setFeaturesCol("feat").setWeightCol("w0").setOutputCol("w_new")
      .setTargetMoments(Array(m(0) * 1.4, m(1)))
      .setRatioBounds(0.8, Double.PositiveInfinity)
    val bm = bw.fit(df)
    val mn = bm.transform(df)
      .agg(min(col("w_new") / col("w0"))).collect()(0).getDouble(0)
    assert(mn >= 0.8 - 1e-9, s"lower bound violated: $mn")
  }

  test("ProblemIO round-trips dense and sparse problems") {
    val df = cust
    val m = targets(df)
    val tmp = graft.ops.Scratch.dir("ebwio")
    ProblemIO.save(df, "feat", "w0", m, s"$tmp/dense")
    val (loaded, m2) = ProblemIO.load(spark, s"$tmp/dense")
    assert(m2.toSeq == m.toSeq)
    val resA = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-9))
    val resB = EntropyBalance.entropyBalance(loaded, "features", "w0", m2,
      options = EbwOptions(optimalityTol = 1e-9))
    val dl = resA.equalityMultipliers.zip(resB.equalityMultipliers)
      .map { case (a, b) => math.abs(a - b) }.max
    assert(dl < 1e-6, s"multipliers differ by $dl after round-trip")
    // sparse round trip
    val (dfs, labels) = DesignMatrix.oneHot(
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .withColumn("w0", lit(1.0)), "o_orderpriority", "feat")
    val ms = Array.fill(labels.length)(1.0 / labels.length)
    ProblemIO.save(dfs, "feat", "w0", ms, s"$tmp/sparse")
    val (loadedS, ms2) = ProblemIO.load(spark, s"$tmp/sparse")
    val resS = EntropyBalance.entropyBalance(loadedS, "features", "w0", ms2,
      options = EbwOptions(optimalityTol = 1e-10))
    assert(resS.converged)
  }

  test("reference zip interop: loads numpy-written dumps, round-trips own dumps") {
    // fixtures written by numpy in the exact dump_problem_to_zip layout
    // (shared.py:136-155): moments.npy + x.npy/x.npz + w0.npy
    val denseFix = getClass.getResource("/ref_dense.zip").getPath
    val (dfD, mD) = ProblemIO.loadReferenceZip(spark, denseFix)
    assert(mD.length == 2 && dfD.count() == 6)
    val resD = EntropyBalance.entropyBalance(dfD, "features", "w0", mD,
      options = EbwOptions(optimalityTol = 1e-10))
    assert(resD.converged)
    val tot = resD.weighted.agg(
      sum(col("w0")).as("w"),
      sum(expr("features[0] * weight_new")).as("s0"),
      sum(expr("features[1] * weight_new")).as("s1")).collect()(0)
    assert(math.abs(tot.getDouble(1) / tot.getDouble(0) - mD(0)) < 1e-8)
    assert(math.abs(tot.getDouble(2) / tot.getDouble(0) - mD(1)) < 1e-8)
    // sparse fixture: scipy save_npz CSR with int32 indices
    val sparseFix = getClass.getResource("/ref_sparse.zip").getPath
    val (dfS, mS) = ProblemIO.loadReferenceZip(spark, sparseFix)
    assert(mS.toSeq == Seq(1.0 / 3, 1.0 / 3, 1.0 / 3) && dfS.count() == 6)
    val resS = EntropyBalance.entropyBalance(dfS, "features", "w0", mS,
      options = EbwOptions(optimalityTol = 1e-10))
    assert(resS.converged)
    // own write -> own read round-trip, dense and sparse, same solution
    val tmp = graft.ops.Scratch.dir("ebwzip")
    val df = cust
    val m = targets(df)
    ProblemIO.saveReferenceZip(df, "feat", "w0", m, s"$tmp/d.zip")
    val (rt, mrt) = ProblemIO.loadReferenceZip(spark, s"$tmp/d.zip")
    assert(mrt.toSeq == m.toSeq)
    val a = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-9))
    val b = EntropyBalance.entropyBalance(rt, "features", "w0", mrt,
      options = EbwOptions(optimalityTol = 1e-9))
    val dl = a.equalityMultipliers.zip(b.equalityMultipliers)
      .map { case (x, y) => math.abs(x - y) }.max
    assert(dl < 1e-6, s"multipliers differ by $dl after zip round-trip")
    val (dfs, labels) = DesignMatrix.oneHot(
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .withColumn("w0", lit(1.0)), "o_orderpriority", "feat")
    val ms2 = Array.fill(labels.length)(1.0 / labels.length)
    ProblemIO.saveReferenceZip(dfs, "feat", "w0", ms2, s"$tmp/s.zip")
    val (rts, _) = ProblemIO.loadReferenceZip(spark, s"$tmp/s.zip")
    val resRts = EntropyBalance.entropyBalance(rts, "features", "w0", ms2,
      options = EbwOptions(optimalityTol = 1e-10))
    assert(resRts.converged)
  }

  test("equalizeGroups: every group hits the national weighted mean") {
    val df = cust
    val (dfv, m, names) = DesignMatrix.equalizeGroups(
      df, "c_mktsegment", Seq("bal_k"), "w0", "feat")
    assert(names.length == m.length)
    val res = EntropyBalance.entropyBalance(dfv, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-10))
    assert(res.converged)
    val nat = df.agg(avg("bal_k")).collect()(0).getDouble(0)
    val grp = res.weighted.groupBy("c_mktsegment")
      .agg((sum(col("bal_k") * col("weight_new")) / sum("weight_new")).as("gm"),
        sum("weight_new").as("wtot"), count(lit(1)).as("n"))
      .collect()
    grp.foreach { r =>
      assert(math.abs(r.getDouble(1) - nat) < 1e-6,
        s"${r.getString(0)} mean ${r.getDouble(1)} != national $nat")
      // group total weight preserved (w0 = 1 per row)
      assert(math.abs(r.getDouble(2) - r.getLong(3)) < 1e-6)
    }
  }

  test("warm start from previous multipliers converges in fewer passes") {
    val df = cust
    val m = targets(df)
    val cold = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-10))
    val warm = EntropyBalance.entropyBalance(df, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-10,
        initialMultipliers = Some(cold.equalityMultipliers)))
    assert(warm.converged)
    assert(warm.nIterations <= 1, s"warm start took ${warm.nIterations} steps")
  }
}
