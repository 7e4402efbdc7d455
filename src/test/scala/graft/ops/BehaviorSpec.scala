package graft.ops

import graft.GraftSparkSuite

/** Funnel + cohort retention: closed-form fixtures, the greedy-fold ==
  * sequential-min equivalence the oracle's cross-derivation rests on, and
  * plan shape. */
class BehaviorSpec extends GraftSparkSuite {

  private val steps = Seq("A", "B", "C")

  // hand-computed fixture: ordering, strictness, window boundary, non-entry
  private val fixture = Seq(
    (1L, 10L, "A"), (1L, 20L, "B"), (1L, 30L, "C"),          // full path
    (2L, 10L, "A"), (2L, 15L, "C"), (2L, 20L, "B"), (2L, 25L, "C"), // C before B ignored
    (3L, 5L, "B"), (3L, 10L, "A"), (3L, 10L, "B"), (3L, 50L, "C"), // B at ts==entry not strict
    (4L, 10L, "A"), (4L, 120L, "B"),                          // B outside window
    (5L, 10L, "B"), (5L, 20L, "C"),                           // never entered
    (6L, 10L, "A"), (6L, 110L, "B"), (6L, 111L, "C"))         // boundary in, next out

  test("funnelTimes: hand-computed step times incl. edges") {
    import spark.implicits._
    val df = fixture.toDF("u", "ts", "et")
    val got = Behavior.funnelTimes(df, "u", "ts", "et", steps, windowMicros = 100L)
      .orderBy("u").collect()
      .map(r => (r.getLong(0), r.getSeq[Any](1).map(Option(_)).toList))
    val want = Seq(
      (1L, List(Some(10L), Some(20L), Some(30L))),
      (2L, List(Some(10L), Some(20L), Some(25L))),
      (3L, List(Some(10L), None, None)),
      (4L, List(Some(10L), None, None)),
      (6L, List(Some(10L), Some(110L), None)))
    assert(got.toSeq == want)
  }

  test("funnel summary: counts and 4dp conversion rates") {
    import spark.implicits._
    val df = fixture.toDF("u", "ts", "et")
    val got = Behavior.funnel(df, "u", "ts", "et", steps, 100L)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1, "A", 5L, 1.0), (2, "B", 3L, 0.6), (3, "C", 2L, 0.4)))
  }

  test("greedy fold == sequential-min on pseudo-random event streams") {
    import spark.implicits._
    // deterministic streams over a 5-type alphabet, colliding timestamps
    val types = Vector("A", "X", "B", "Y", "C")
    val events = for {
      u <- 0L until 40L
      i <- 0 until 25
      h = (u * 31 + i) * 2654435761L & 0x7fffffffL
    } yield (u, h % 200L, types((h / 200L % 5L).toInt))
    val W = 90L
    val got = Behavior.funnelTimes(events.toDF("u", "ts", "et"),
        "u", "ts", "et", steps, W)
      .orderBy("u").collect()
      .map(r => (r.getLong(0), r.getSeq[Any](1).map(Option(_).map(_.asInstanceOf[Long])).toList))
    // independent sequential-min reference (the oracle's formulation)
    val want = events.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (u, es) =>
      val t0 = es.filter(_._3 == "A").map(_._2).minOption
      t0.map { e0 =>
        val t1 = es.filter(x => x._3 == "B" && x._2 > e0 && x._2 <= e0 + W)
          .map(_._2).minOption
        val t2 = t1.flatMap(p => es.filter(x =>
          x._3 == "C" && x._2 > p && x._2 <= e0 + W).map(_._2).minOption)
        (u, List(Some(e0), t1, t2))
      }
    }
    assert(got.nonEmpty && got.toSeq == want)
  }

  test("cohortRetention: hand-computed weekly grid") {
    import spark.implicits._
    val df = Seq(
      (1L, 5L), (1L, 25L),              // cohort 0, offsets 0 and 2
      (2L, 12L),                        // cohort 1, offset 0
      (3L, 3L), (3L, 13L), (3L, 23L))   // cohort 0, offsets 0,1,2
      .toDF("u", "ts")
    val got = Behavior.cohortRetention(df, "u", "ts", widthMicros = 10L)
      .orderBy("cohort", "offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (0L, 0L, 2L, 1.0), (0L, 1L, 1L, 0.5), (0L, 2L, 2L, 1.0),
      (1L, 0L, 1L, 1.0)))
  }

  test("plan shape: one user-keyed exchange for funnelTimes, no products") {
    import spark.implicits._
    val df = fixture.toDF("u", "ts", "et")
    val fp = Behavior.funnelTimes(df, "u", "ts", "et", steps, 100L)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(fp).size == 1,
      s"funnelTimes should shuffle exactly once:\n$fp")
    assert(!fp.contains("CartesianProduct") && !fp.contains("BroadcastNestedLoopJoin"))
    val cp = Behavior.cohortRetention(df.select($"u", $"ts"), "u", "ts", 10L)
      .queryExecution.executedPlan.toString
    assert(!cp.contains("SinglePartition") && !cp.contains("CartesianProduct"),
      s"cohortRetention planned a global stage:\n$cp")
  }

  test("preconditions: empty/dup steps and nonpositive width rejected") {
    import spark.implicits._
    val df = Seq((1L, 1L, "A")).toDF("u", "ts", "et")
    intercept[IllegalArgumentException] {
      Behavior.funnelTimes(df, "u", "ts", "et", Seq.empty, 10L)
    }
    intercept[IllegalArgumentException] {
      Behavior.funnelTimes(df, "u", "ts", "et", Seq("A", "A"), 10L)
    }
    intercept[IllegalArgumentException] {
      Behavior.cohortRetention(df, "u", "ts", 0L)
    }
  }

  test("topPaths: ordered prefixes, short histories, tie ranks, shares") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "buy"),
      (1L, 40L, "view"), // 4th event never enters a 3-step path
      (2L, 5L, "view"), (2L, 6L, "click"), (2L, 7L, "buy"),
      (3L, 1L, "view"), (3L, 2L, "view"),  // short history: 2-step path
      (4L, 9L, "click"),                   // single event path
      (5L, 3L, "b"), (5L, 3L, "a"))        // equal ts: type breaks the tie
      .toDF("u", "ts", "et")
    val got = Behavior.topPaths(ev, "u", "ts", "et", maxSteps = 3, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3)))
    val byPath = got.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byPath("view>click>buy") == ((2L, 0.4)))
    assert(byPath("view>view") == ((1L, 0.2)))
    assert(byPath("click") == ((1L, 0.2)))
    assert(byPath("a>b") == ((1L, 0.2))) // ts tie ordered by type
    // rank 1 is the modal path; ranks are dense over the returned rows
    assert(got.find(_._4 == 1L).get._1 == "view>click>buy")
    assert(got.map(_._4).sorted.toSeq == (1L to got.length).toSeq)
  }

  test("lastTouchAttribution: last channel wins, lookback cuts, same-" +
    "instant channel attributes, organic conversions stay NULL") {
    import spark.implicits._
    val ev = Seq(
      // user 1: view then click then purchase -> click (the LAST touch)
      (1L, 0L, "view", 10L), (1L, 5000000L, "click", 11L),
      (1L, 9000000L, "purchase", 12L),
      // user 2: click far outside the 10s lookback -> NULL
      (2L, 0L, "click", 20L), (2L, 60000000L, "purchase", 21L),
      // user 3: channel at the exact purchase instant -> attributes
      (3L, 7L, "signup", 30L), (3L, 7L, "purchase", 31L),
      // user 4: no channel at all -> NULL
      (4L, 3L, "purchase", 40L),
      // an 'error' event type is neither channel nor conversion
      (1L, 8000000L, "error", 13L))
      .toDF("u", "ts", "et", "eid")
    val got = Behavior.lastTouchAttribution(ev, "u", "ts", "et", "eid",
        "purchase", Seq("view", "click", "signup"), 10000000L)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getAs[String]("channel")),
          Option(r.get(4)).map(_.asInstanceOf[Long])))).toMap
    assert(got(12L) == ((Some("click"), Some(5000000L))))
    assert(got(21L) == ((None, None)), "outside lookback is organic")
    assert(got(31L) == ((Some("signup"), Some(7L))),
      "same-instant channel attributes (channels sort before conversions)")
    assert(got(40L) == ((None, None)))
    assert(got.size == 4)
  }

  test("dwellTimes: gap-to-next-any-action, censored last events drop, " +
    "exact percentiles") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // user 1: view(0s) -> click(2s) -> buy(12s): view gap 2, click gap 10
    // user 2: view(0s) -> view(4s): one view gap of 4; the final event of
    // each user is censored and must NOT appear as a gap
    val ev = Seq(
      (1L, 0L, "view"), (1L, 2000000L, "click"), (1L, 12000000L, "buy"),
      (2L, 0L, "view"), (2L, 4000000L, "view"))
      .toDF("u", "ts", "et")
    val got = Behavior.dwellTimes(ev, "u", "ts", "et")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(5))))
      .toMap
    // view gaps: 2, 4 -> n=3? no: user1 view gap 2, user2 first view gap 4
    assert(got("view") == ((2L, 3.0, 3.0, 4.0)))
    assert(got("click") == ((1L, 10.0, 10.0, 10.0)))
    assert(!got.contains("buy"), "final events are censored, not zero-gap")
  }
}
