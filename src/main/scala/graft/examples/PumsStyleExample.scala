package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ebw.{DesignMatrix, EbwOptions, EbwLog, EntropyBalance, ProblemIO}

/**
 * The Spark analogue of /root/reference/examples/pums_example.py: there,
 * ACS household data is reweighted so every state matches target moments
 * (equal post-weighting means across states). Here the "states" are market
 * segments of the customer table and the balanced variable is the account
 * balance — same moment structure (group dummies + group x variable
 * interactions), built by DesignMatrix.equalizeGroups.
 *
 * Run (session env: [[graft.GraftSession.forMain]], e.g. SPARK_GRAFT_CPUS=8):
 *   sbt "runMain graft.examples.PumsStyleExample [sfDir]"
 */
object PumsStyleExample {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.forMain()
    EbwLog.setupLogging("/tmp/ebw_example.log")

    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .withColumn("bal_k", col("c_acctbal") / 1000.0)
      .withColumn("w0", lit(1.0))

    println("== pre-weighting group means ==")
    cust.groupBy("c_mktsegment").agg(round(avg("bal_k"), 4).as("mean_bal_k"))
      .orderBy("c_mktsegment").show(false)

    val (dfv, m, names) = DesignMatrix.equalizeGroups(
      cust, "c_mktsegment", Seq("bal_k"), "w0", "feat")
    println(s"design: ${names.length} moments (${names.take(4).mkString(", ")} ...)")

    val res = EntropyBalance.entropyBalance(dfv, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-10))
    println(s"converged=${res.converged} iterations=${res.nIterations}")

    println("== post-weighting group means (all equal the national mean) ==")
    res.weighted.groupBy("c_mktsegment")
      .agg(round(sum(col("bal_k") * col("weight_new")) / sum("weight_new"), 4)
        .as("mean_bal_k"),
        round(sum("weight_new"), 2).as("group_weight"))
      .orderBy("c_mktsegment").show(false)

    // criterion at the solution (shared.py criterion parity): violations ~ 0
    val eval = EntropyBalance.evaluate(dfv, "feat", "w0", m, res.equalityMultipliers)
    println(f"criterion=${eval.criterionValue}%.6g  ||Ce||=${eval.violationNorm}%.3g")

    // warm start from the previous solution's ratios (the reference's
    // initial_ratio_guess): re-solving costs at most one Newton step
    val guessed = res.weighted.withColumn("r_prev", col("weight_new") / col("w0"))
    val warm = EntropyBalance.entropyBalance(guessed, "feat", "w0", m,
      options = EbwOptions(optimalityTol = 1e-10,
        initialRatioGuessCol = Some("r_prev")))
    println(s"warm restart: converged=${warm.converged} iterations=${warm.nIterations}")

    // dump the problem in the reference package's own zip format — the
    // Python package can load and replay it with load_problem_from_zip
    ProblemIO.saveReferenceZip(dfv, "feat", "w0", m, "/tmp/ebw_example_problem.zip")
    println("problem dumped to /tmp/ebw_example_problem.zip (reference npy/npz layout)")

    spark.stop()
  }
}
