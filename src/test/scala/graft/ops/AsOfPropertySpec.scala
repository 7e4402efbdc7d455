package graft.ops

import graft.GraftSparkSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/**
 * Property fuzz for the as-of join: on random event sets (with heavy
 * key and timestamp collisions by construction), the distributed
 * union-window plan must match a brute-force per-row reference:
 * match = argmax over right rows with same key and rt <= lt, ordered by
 * (rt, rid); left rows with no candidate are absent from the output.
 */
class AsOfPropertySpec extends GraftSparkSuite {

  private val caseGen: Gen[(Seq[(Long, Long, Long)], Seq[(Long, Long, Long, Double)])] =
    for {
      nL <- Gen.choose(1, 30)
      nR <- Gen.choose(0, 30)
      nKeys <- Gen.choose(1, 4)
      tMax <- Gen.choose(3L, 12L) // small range forces timestamp ties
      seed <- Gen.choose(0L, 1000000L)
    } yield {
      val rng = new scala.util.Random(seed)
      val lefts = (0 until nL).map(i =>
        (1000L + i, rng.nextInt(nKeys).toLong, rng.nextLong(tMax)))
      val rights = (0 until nR).map(i =>
        (i.toLong, rng.nextInt(nKeys).toLong, rng.nextLong(tMax), rng.nextDouble()))
      (lefts, rights)
    }

  test("as-of join matches the brute-force reference on random collision-heavy data") {
    import spark.implicits._
    val prop = Prop.forAll(caseGen) { case (lefts, rights) =>
      val lDf = lefts.toDF("event_id", "user_id", "ts")
      val rDf = rights.toDF("event_id", "user_id", "ts", "value")
      val got = AsOf.joinBackward(lDf, rDf, "user_id", "ts", "ts",
          "event_id", Seq("value"))
        .select("event_id", "asof_event_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = lefts.flatMap { case (lid, k, lt) =>
        val cands = rights.filter(r => r._2 == k && r._3 <= lt)
        if (cands.isEmpty) None
        else Some(lid -> cands.maxBy(r => (r._3, r._1))._1)
      }.toMap
      got == expect
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("forward as-of matches the brute-force reference: earliest " +
    "at-or-after, smallest-id ties, tolerance cuts") {
    import spark.implicits._
    val prop = Prop.forAll(caseGen) { case (lefts, rights) =>
      val lDf = lefts.toDF("event_id", "user_id", "ts")
      val rDf = rights.toDF("event_id", "user_id", "ts", "value")
      val got = AsOf.joinForward(lDf, rDf, "user_id", "ts", "ts",
          "event_id", Seq("value"))
        .select("event_id", "asof_event_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = lefts.flatMap { case (lid, k, lt) =>
        val cands = rights.filter(r => r._2 == k && r._3 >= lt)
        if (cands.isEmpty) None
        else Some(lid -> cands.minBy(r => (r._3, r._1))._1)
      }.toMap
      // and with a tolerance of 2 time units
      val gotTol = AsOf.joinForward(lDf, rDf, "user_id", "ts", "ts",
          "event_id", Seq("value"),
          tolerance = Some(org.apache.spark.sql.functions.lit(2.0)))
        .select("event_id", "asof_event_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expectTol = lefts.flatMap { case (lid, k, lt) =>
        val cands = rights.filter(r => r._2 == k && r._3 >= lt && r._3 - lt <= 2)
        if (cands.isEmpty) None
        else Some(lid -> cands.minBy(r => (r._3, r._1))._1)
      }.toMap
      got == expect && gotTol == expectTol
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("bucketed as-of equals plain as-of with tolerance on random data") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val gen = for {
      c <- caseGen
      width <- Gen.choose(1L, 6L)
      tol <- Gen.choose(0L, width)
    } yield (c, width, tol)
    val prop = Prop.forAll(gen) { case ((lefts, rights), width, tol) =>
      val lDf = lefts.toDF("event_id", "user_id", "ts")
      val rDf = rights.toDF("event_id", "user_id", "ts", "value")
      def key(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .sortBy(t => (t._1, t._2)).toSeq
      val plain = key(AsOf.joinBackward(lDf, rDf, "user_id", "ts", "ts",
          "event_id", Seq("value"), tolerance = Some(lit(tol)))
        .select("event_id", "asof_event_id", "asof_time", "asof_value").collect())
      val bucketed = key(AsOf.joinBackwardBucketed(lDf, rDf, "user_id", "ts", "ts",
          "event_id", Seq("value"), bucketWidth = width, tolerance = tol)
        .select("event_id", "asof_event_id", "asof_time", "asof_value").collect())
      plain == bucketed
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }
}
