package graft.ops

import graft.GraftSparkSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The shared distributed prefix scan behind the running-total family
  * (ROC AUC, KS, Mann-Whitney, Spearman, BH-FDR, RFM, selectByBudget):
  * fuzzed against the naive partition-less windows it replaces — in BOTH
  * sort directions (paretoFront/bhAdjust run desc-leading orders) — plus
  * the run-to-run stability regression that caught the round-14 bucket-id
  * race. Since round 15 the bucketing is a pure function of the leading
  * sort key (literal cut points + local offsets), so stability is
  * STRUCTURAL: the Ops-scope pin the scan keeps is an optimization only,
  * and the stability test below releases it mid-flight to prove results
  * cannot depend on it (the exact failure an early unpersistAll used to
  * cause under the round-14 spark_partition_id bucketing). */
class DistScanSpec extends GraftSparkSuite {

  private def runProp(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("prefixSums/prefixRank/prefixMin equal the naive global windows " +
    "on random frames (ties, skew, both frame bounds, both directions)") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 150)
      seed <- Gen.choose(0L, 1000000L)
      inclusive <- Gen.oneOf(true, false)
      desc <- Gen.oneOf(true, false)
    } yield (n, seed, inclusive, desc)
    runProp(Prop.forAll(gen) { case (n, seed, inclusive, desc) =>
      val rng = new scala.util.Random(seed)
      // duplicate keys force tie handling; values include a skewed head
      val rows = (1 to n).map(i =>
        (rng.nextInt(1 + n / 3).toDouble, i.toLong,
          (1 + rng.nextInt(9)).toLong))
      val df = rows.toDF("v", "id", "c").repartition(5)
      val order =
        if (desc) Seq(col("v").desc, col("id").desc)
        else Seq(col("v").asc, col("id").asc)
      val upper = if (inclusive) 0L else -1L
      val w = Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, upper)
      val want = df
        .withColumn("cum", coalesce(sum("c").over(w), lit(0L)))
        .withColumn("rk", row_number().over(Window.orderBy(order: _*))
          .cast("long"))
        .withColumn("mn", min(col("c") * col("v")).over(
          Window.orderBy(order: _*)
            .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("mx", max(col("c") * col("v")).over(
          Window.orderBy(order: _*)
            .rowsBetween(Window.unboundedPreceding, -1)))
        .collect()
        .map(r => r.getLong(1) -> ((r.getLong(3), r.getLong(4),
          r.getDouble(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6))))).toMap
      val got = DistScan.prefixMax(
          DistScan.prefixMin(
            DistScan.prefixRank(
              DistScan.prefixSums(df, order, Seq((col("c"), "cum")),
                inclusive),
              order, "rk"),
            order, col("c") * col("v"), "mn"),
          order, col("c") * col("v"), "mx", inclusive = false)
        .collect()
        .map(r => r.getLong(1) -> ((r.getLong(3), r.getLong(4),
          r.getDouble(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6))))).toMap
      got == want
    }, 20)
  }

  test("scan results are stable across repeated evaluations AND across " +
    "cache release (the bucket-id race regression: Mann-Whitney U " +
    "varied run to run; an early unpersistAll used to reopen it)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val outs = (1 to 5).map { _ =>
      val r = Profile.mannWhitney(df, "o_orderstatus", "o_totalprice",
        "O", "F").collect()(0).toString
      // releasing any leftover pins between runs must change nothing
      // (mannWhitney itself now seals — the release is a no-op guard)
      CacheScope.unpersistAll(spark, CacheScope.Scan)
      r
    }
    assert(outs.distinct.size == 1, s"unstable across runs: $outs")
    // the ADVICE-r14 failure scenario verbatim, on a LAZY scan (the
    // terminal statistics seal at construction, so the mid-flight
    // release is exercised on a raw prefix sum): compose the scan,
    // release the Scan scope BEFORE the action, then run it — the
    // deterministic bucketing must recompute the identical answer
    val rawA = DistScan.prefixSums(
      df.select(col("o_totalprice").as("v"), col("o_orderkey").as("id"),
        lit(1L).as("c")),
      Seq(col("v").asc, col("id").asc), Seq((col("c"), "cum")),
      inclusive = true)
    val before = rawA.orderBy(col("id")).limit(20).collect().map(_.toString)
    val rawB = DistScan.prefixSums(
      df.select(col("o_totalprice").as("v"), col("o_orderkey").as("id"),
        lit(1L).as("c")),
      Seq(col("v").asc, col("id").asc), Seq((col("c"), "cum")),
      inclusive = true)
    CacheScope.unpersistAll(spark, CacheScope.Scan)
    val after = rawB.orderBy(col("id")).limit(20).collect().map(_.toString)
    assert(after.toSeq == before.toSeq,
      "result changed after an early cache release")
    CacheScope.unpersistAll(spark, CacheScope.Scan)
  }

  test("a single scan result plan evaluates its input once: the offsets " +
    "branch reads the tracked pin, never a fresh input scan") {
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_totalprice").as("v"), col("o_orderkey").as("id"),
        lit(1L).as("c"))
    val out = DistScan.prefixSums(df, Seq(col("v").asc, col("id").asc),
      Seq((col("c"), "cum")), inclusive = true)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"offsets must broadcast-join back:\n$p")
    // r19: the carry offsets are a LAZY bounded aggregate subtree inside
    // the result plan (one driver job per scan level — the cut-point
    // sample — instead of two), so the plan now carries TWO
    // InMemoryTableScan reads of the pinned input: the per-bucket cumsum
    // branch and the offsets-aggregate branch. Both must read the pin —
    // a fresh FileScan branch outside the cached relation's rendering
    // would mean the input re-evaluates per reference.
    val scans = "InMemoryTableScan".r.findAllIn(p).length
    assert(scans == 2, s"expected both branches on the pin, got $scans:\n$p")
    CacheScope.unpersistAll(spark, CacheScope.Scan)
  }
}
