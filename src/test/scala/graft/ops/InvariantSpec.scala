package graft.ops

import graft.GraftSparkSuite
import org.apache.spark.sql.functions._

/**
 * Cross-operator invariants on pseudo-random data — properties that must
 * hold for ANY input, complementing the closed-form fixtures: bounds,
 * monotonicity, permutation invariance, and reductions between operators
 * (Holt with β = 0 IS the EWMA). Deterministic multiplicative-hash data,
 * never an unseeded RNG.
 */
class InvariantSpec extends GraftSparkSuite {

  private def h(i: Long): Long = (i * 2654435761L) & 0x7fffffffL

  test("acf values stay in [-1, 1] and pair counts shrink with lag") {
    import spark.implicits._
    val series = (0 until 200).map(i =>
      (s"k${i % 3}", i.toLong, (h(i) % 100).toDouble))
      .toDF("k", "t", "x")
    val rows = Profile.acf(series, "k", "t", "x", maxLag = 6).collect()
    rows.foreach { r =>
      if (!r.isNullAt(3)) {
        val a = r.getDouble(3)
        assert(a >= -1.0 - 1e-9 && a <= 1.0 + 1e-9, s"acf out of range: $r")
      }
    }
    val byKey = rows.groupBy(_.getString(0))
    byKey.foreach { case (_, rs) =>
      val ns = rs.sortBy(_.getInt(1)).map(_.getLong(2))
      assert(ns.zip(ns.tail).forall { case (a, b) => b <= a },
        s"pair counts must shrink with lag: ${ns.toSeq}")
    }
  }

  test("Holt with beta = 0 IS the EWMA (level for level)") {
    import spark.implicits._
    val series = (0 until 120).map(i =>
      (s"k${i % 2}", i.toLong, (h(i) % 50).toDouble)).toDF("k", "t", "x")
    val holt = Profile.holt(series, "k", "t", "x", alpha = 0.3, beta = 0.0)
      .select(col("k"), col("ts"), col("level")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ewma = Profile.ewma(series, "k", "t", "x", alpha = 0.3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(holt == ewma, "beta = 0 must reduce Holt to the EWMA exactly")
  }

  test("kaplanMeier: survival in [0,1], non-increasing, at-risk " +
    "non-increasing, first at-risk equals cohort size") {
    import spark.implicits._
    val subj = (0 until 300).map { i =>
      (s"c${i % 3}", (h(i) % 20).toDouble, h(i + 7) % 3 != 0)
    }.toDF("g", "t", "e")
    val rows = Profile.kaplanMeier(subj, "g", "t", "e").collect()
      .groupBy(_.getString(0))
    val sizes = subj.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { case (g, rs) =>
      val sorted = rs.sortBy(_.getDouble(1))
      val surv = sorted.map(_.getDouble(5))
      assert(surv.forall(s => s >= 0.0 && s <= 1.0))
      assert(surv.zip(surv.tail).forall { case (a, b) => b <= a + 1e-9 },
        s"$g: survival must be non-increasing: ${surv.toSeq}")
      val risk = sorted.map(_.getLong(2))
      assert(risk.zip(risk.tail).forall { case (a, b) => b < a },
        s"$g: at-risk must strictly shrink over distinct times")
      assert(risk.head == sizes(g), s"$g: first at-risk == cohort size")
    }
  }

  test("gainsTable: bins cover every row, cumulative gain is monotone " +
    "to exactly 1, lift starts >= 1 for any better-than-random ranking") {
    import spark.implicits._
    val df = (0 until 500).map { i =>
      val score = (h(i) % 1000) / 1000.0
      (score, score + (h(i + 3) % 100) / 500.0 > 0.9) // label correlates
    }.toDF("score", "label")
    val rows = Profile.gainsTable(df, "score", "label").collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(1)).sum == 500, "bins must cover all rows")
    val gains = rows.map(_.getDouble(4))
    assert(gains.zip(gains.tail).forall { case (a, b) => b >= a - 1e-9 })
    assert(math.abs(gains.last - 1.0) < 1e-9,
      "the final decile captures everything")
  }

  test("reconcile is invariant to row order and partitioning") {
    import spark.implicits._
    val a = (0 until 300).map(i => (i.toLong, s"v${h(i)}")).toDF("k", "v")
    val shuffled = a.orderBy(desc("v")).repartition(7)
    val r = Validate.reconcile(a, shuffled, "k", Seq("k", "v"), 16)
      .collect()
    assert(r.forall(_.getBoolean(5)),
      "content-based buckets must ignore order and layout")
  }

  test("maxConcurrent is bounded by the key's interval count and " +
    "at least 1 when any interval exists") {
    import spark.implicits._
    val ivs = (0 until 150).map { i =>
      val s = h(i) % 50
      (s"k${i % 4}", s, s + 1 + h(i + 1) % 10)
    }.toDF("k", "s", "e")
    val counts = ivs.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Interval.maxConcurrent(ivs, "k", "s", "e").collect()
    got.foreach { r =>
      val mc = r.getLong(1)
      assert(mc >= 1 && mc <= counts(r.getString(0)), r.toString)
    }
  }

  test("corrMatrix values stay in [-1, 1] and match corr's sign " +
    "under column negation") {
    import spark.implicits._
    val df = (0 until 200).map(i => ((h(i) % 90).toDouble,
      (h(i + 5) % 70).toDouble)).toDF("x", "y")
    val r = Profile.corrMatrix(df, Seq("x", "y")).collect().head
    val c = r.getDouble(3)
    assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
    val neg = Profile.corrMatrix(df.withColumn("y", -col("y")),
      Seq("x", "y")).collect().head.getDouble(3)
    assert(math.abs(c + neg) < 1e-9, "negating a column flips the sign")
  }

  test("temperatureSample: per-domain quota never exceeds the domain, " +
    "the smallest domain is kept whole at any T") {
    import spark.implicits._
    val df = ((0 until 90).map(i => (i.toLong, "big")) ++
      (100 until 130).map(i => (i.toLong, "mid")) ++
      (200 until 207).map(i => (i.toLong, "tiny"))).toDF("id", "dom")
    for (t <- Seq(1.0, 2.0, 5.0, 50.0)) {
      val sizes = Sampling.temperatureSample(df, "dom", "id", t)
        .groupBy("dom").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(sizes("big") <= 90 && sizes("mid") <= 30)
      assert(sizes("tiny") == 7, s"T=$t: min domain must survive whole")
    }
  }
}
