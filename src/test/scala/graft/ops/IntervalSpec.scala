package graft.ops

import graft.GraftSparkSuite

/** Bucketed interval joins: brute-force equality (every qualifying pair
  * exactly once, none missed), boundary semantics, and bucket-width
  * independence — the bucketing is an execution detail, never semantics. */
class IntervalSpec extends GraftSparkSuite {

  // deterministic pseudo-random intervals: spans from tiny (sub-bucket) to
  // huge (many buckets), starts scattered, some zero-length
  private def mkIntervals(n: Int, seed: Int): Seq[(Long, Long, Long)] =
    (0 until n).map { i =>
      val h = ((i * 2654435761L + seed * 40503L) & 0x7fffffffL)
      val start = h % 10000L
      val span = if (i % 7 == 0) 0L else (h / 10000L) % 700L
      (i.toLong, start, start + span)
    }

  test("pointInInterval == brute force, each pair exactly once, any width") {
    import spark.implicits._
    val iv = mkIntervals(120, 1).toDF("i_id", "i_s", "i_e")
    val pts = (0 until 300)
      .map(j => (1000L + j, (j * 997L + 13L) % 10700L)).toDF("p_id", "p_v")
    val want = (for {
      (i, s, e) <- mkIntervals(120, 1)
      (p, v) <- (0 until 300).map(j => (1000L + j, (j * 997L + 13L) % 10700L))
      if v >= s && v <= e
    } yield (i, p)).sorted
    assert(want.nonEmpty)
    for (w <- Seq(1L, 64L, 1000L, 100000L)) {
      val got = Interval.pointInInterval(iv, pts, "i_s", "i_e", "p_v", w)
        .select("i_id", "p_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got == want, s"width $w diverged from brute force")
    }
  }

  test("overlapJoin == brute force incl. touching endpoints, any width") {
    import spark.implicits._
    val a = mkIntervals(80, 2).toDF("a_id", "a_s", "a_e")
    val b = mkIntervals(90, 5).map { case (i, s, e) => (i + 500L, s, e) }
      .toDF("b_id", "b_s", "b_e")
    val want = (for {
      (ai, as_, ae) <- mkIntervals(80, 2)
      (bi, bs, be) <- mkIntervals(90, 5).map { case (i, s, e) => (i + 500L, s, e) }
      if as_ <= be && bs <= ae
    } yield (ai, bi, math.min(ae, be) - math.max(as_, bs))).sorted
    assert(want.nonEmpty && want.exists(_._3 == 0L),
      "fixture must include touching intervals (overlap == 0)")
    for (w <- Seq(1L, 64L, 1000L, 100000L)) {
      val got = Interval.overlapJoin(a, b, "a_s", "a_e", "b_s", "b_e", w)
        .select("a_id", "b_id", "overlap").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(got == want, s"width $w diverged from brute force")
    }
  }

  test("plans are equi-joins on the bucket key, never a nested loop") {
    import spark.implicits._
    val a = mkIntervals(10, 3).toDF("a_id", "a_s", "a_e")
    val b = mkIntervals(10, 4).toDF("b_id", "b_s", "b_e")
    val pts = Seq((1L, 5L)).toDF("p_id", "p_v")
    for (p <- Seq(
        Interval.pointInInterval(a.toDF("i_id", "i_s", "i_e"), pts,
          "i_s", "i_e", "p_v", 64L).queryExecution.executedPlan.toString,
        Interval.overlapJoin(a, b, "a_s", "a_e", "b_s", "b_e", 64L)
          .queryExecution.executedPlan.toString)) {
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"interval join planned as a product:\n$p")
    }
  }

  test("resampleFill == brute force: full grid, gap rows, forward fill") {
    import spark.implicits._
    // two keys with very different spans + a single-observation key;
    // values chosen so per-bucket averages are exact at 4dp
    val rows = Seq(
      (1L, 100L, 2.0), (1L, 150L, 4.0),     // bucket 1: avg 3.0
      (1L, 520L, 7.5),                       // bucket 5, gap 2..4
      (2L, 10L, 1.25), (2L, 910L, 9.0),     // buckets 0 and 9, gap 1..8
      (3L, 333L, 5.0))                       // single bucket 3
    val df = rows.toDF("k", "ts", "v")
    val got = Interval.resampleFill(df, "k", "ts", "v", widthMicros = 100L)
      .orderBy("k", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double])))
    // brute force: bucket per key, complete [min,max] grid, running last
    val byKey = rows.groupBy(_._1).toSeq.sortBy(_._1)
    val want = byKey.flatMap { case (k, rs) =>
      val byB = rs.groupBy(_._2 / 100L)
      val (b0, b1) = (byB.keys.min, byB.keys.max)
      var lastAvg: Option[Double] = None
      (b0 to b1).map { b =>
        val avg = byB.get(b).map(xs =>
          BigDecimal(xs.map(_._3).sum / xs.size)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        if (avg.isDefined) lastAvg = avg
        (k, b, byB.get(b).map(_.size.toLong).getOrElse(0L), avg, lastAvg)
      }
    }
    assert(got.toSeq == want, "resampleFill diverged from brute force")
    assert(got.count(_._3 == 0L) == 3 + 8, "expected exactly the gap rows")
  }

  test("resampleFill plan: keyed shuffles only, no global exchange") {
    import spark.implicits._
    val df = Seq((1L, 100L, 2.0)).toDF("k", "ts", "v")
    val plan = Interval.resampleFill(df, "k", "ts", "v", 100L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition") && !plan.contains("CartesianProduct"),
      s"resampleFill planned a global or product stage:\n$plan")
  }

  test("disjoint-name and width preconditions are enforced") {
    import spark.implicits._
    val a = Seq((1L, 2L, 3L)).toDF("id", "s", "e")
    val b = Seq((1L, 2L)).toDF("id", "v")
    intercept[IllegalArgumentException] {
      Interval.pointInInterval(a, b, "s", "e", "v", 10L)
    }
    intercept[IllegalArgumentException] {
      Interval.pointInInterval(a, b.toDF("p_id", "v"), "s", "e", "v", 0L)
    }
  }

  test("coalesceIntervals == brute-force sweep; gap bridging; one Exchange") {
    import spark.implicits._
    // per key: brute-force merge on the driver, compare islands exactly
    val rows = for {
      k <- Seq("a", "b", "c"); (_, s, e) <- mkIntervals(80, k.hashCode & 127)
    } yield (k, s, e)
    def brute(gap: Long): Set[(String, Long, Long, Long)] =
      rows.groupBy(_._1).flatMap { case (k, rs) =>
        val sorted = rs.map(r => (r._2, r._3)).sorted
        val islands = sorted.tail.foldLeft(
          List((sorted.head._1, sorted.head._2, 1L))) {
          case ((is, ie, n) :: rest, (s, e)) =>
            if (s > ie + gap) (s, e, 1L) :: (is, ie, n) :: rest
            else (is, math.max(ie, e), n + 1) :: rest
          case (Nil, _) => Nil
        }
        islands.map { case (s, e, n) => (k, s, e, n) }
      }.toSet
    val df = rows.toDF("k", "s", "e")
    for (gap <- Seq(0L, 25L, 10000000L)) {
      val got = Interval.coalesceIntervals(df, "k", "s", "e", gap)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got == brute(gap), s"gap $gap diverged from brute force")
    }
    // the whole sweep is ONE key-partitioned Exchange, nothing global
    val plan = Interval.coalesceIntervals(df, "k", "s", "e")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("timeWeightedAvg: holding durations weight values, censored " +
    "last obs, single-obs key NULL, tied instants deterministic") {
    import spark.implicits._
    // k: v=10 holds 1s, v=20 holds 3s, v=30 censored
    // -> twa = (10*1 + 20*3)/4 = 17.5; mean = 20
    val df = Seq(("k", 0L, 10.0), ("k", 1L, 20.0), ("k", 4L, 30.0),
      ("solo", 7L, 99.0)).toDF("key", "t", "v")
    val got = Interval.timeWeightedAvg(df, "key", "t", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)), r.getDouble(4))))
      .toMap
    assert(got("k") == ((3L, 4L, Some(17.5), 20.0)))
    assert(got("solo") == ((1L, 0L, None, 99.0)),
      "zero observed span must be NULL, not a fabricated average")
    // tied instants: (t, v) ordering pins which value holds the gap —
    // smaller v gets the zero-length slot, larger v holds to the next t
    val tied = Seq(("x", 0L, 5.0), ("x", 0L, 1.0), ("x", 2L, 9.0))
      .toDF("key", "t", "v")
    val tw = Interval.timeWeightedAvg(tied, "key", "t", "v")
      .collect().head
    // order: (0,1.0) dur 0; (0,5.0) dur 2; (2,9.0) censored -> twa 5.0
    assert(tw.getDouble(3) == 5.0)
  }

  test("maxConcurrent: stacked peak, half-open back-to-back stays 1, " +
    "earliest peak instant wins, keyed shuffle only") {
    import spark.implicits._
    // key a: [0,10) [5,15) [8,12) -> level 3 on [8,10), peak at 8;
    //        a second level-3 stretch would NOT move peak_ts back
    // key b: [0,5) [5,10) back-to-back -> never concurrent (half-open)
    val df = Seq(
      ("a", 0L, 10L), ("a", 5L, 15L), ("a", 8L, 12L),
      ("b", 0L, 5L), ("b", 5L, 10L)).toDF("k", "s", "e")
    val got = Interval.maxConcurrent(df, "k", "s", "e")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("a") == ((3L, 8L)))
    assert(got("b") == ((1L, 0L)))
    // == brute-force sweep on a pseudo-random interval set
    val ivs = (0 until 200).map { i =>
      val h = (i * 2654435761L) & 0x7fffffffL
      val s = h % 100L
      (s"k${h % 3}", s, s + 1 + (h / 100) % 20L)
    }
    val want = ivs.groupBy(_._1).map { case (k, xs) =>
      val pts = xs.flatMap(x => Seq((x._2, 1), (x._3, -1)))
        .sortBy(p => (p._1, p._2))
      var lvl = 0; var best = 0; var bestT = Long.MaxValue
      pts.foreach { case (t, d) =>
        lvl += d
        if (lvl > best) { best = lvl; bestT = t }
      }
      k -> ((best.toLong, bestT))
    }
    val got2 = Interval.maxConcurrent(ivs.toDF("k", "s", "e"), "k", "s", "e")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got2 == want)
    // one keyed Exchange, no SinglePartition window
    val plan = Interval.maxConcurrent(df, "k", "s", "e")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("interArrivalStats: metronome reads B = -1-ish, bursty beats " +
    "poissonish, thin keys NULL, tie determinism") {
    import spark.implicits._
    // metronome: constant gaps -> sd = 0 -> cv = 0, B = (0-mu)/(0+mu) = -1
    val metro = (0 until 20).map(i => ("m", i * 100L, i.toLong))
    // bursty: 3 tight clusters far apart -> sd >> mu is false (sd ~ mu
    // scale) but B well above the metronome and the near-poisson key
    val bursty = (0 until 18).map { i =>
      ("b", (i / 6) * 100000L + (i % 6) * 10L, 100L + i)
    }
    val thin = Seq(("t", 0L, 500L))  // no gaps at all -> no row
    val two = Seq(("u", 0L, 600L), ("u", 7L, 601L)) // 1 gap: sd NULL
    val df = (metro ++ bursty ++ thin ++ two).toDF("k", "t", "id")
    val got = Interval.interArrivalStats(df, "k", "t", "id")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!got.contains("t"), "a single event has no gaps")
    assert(got("m").getDouble(5) == -1.0, s"metronome B: ${got("m")}")
    assert(got("m").getDouble(4) == 0.0)
    assert(got("b").getDouble(5) > 0.4, s"bursty B: ${got("b")}")
    assert(got("u").isNullAt(3) && got("u").isNullAt(4) &&
      got("u").isNullAt(5), "one gap has no sample stddev")
    // equal timestamps resolve by id: shuffling input changes nothing
    val tied = Seq(("z", 5L, 1L), ("z", 5L, 2L), ("z", 9L, 3L))
    val a = Interval.interArrivalStats(tied.toDF("k", "t", "id"),
      "k", "t", "id").collect().head
    val b = Interval.interArrivalStats(
      tied.reverse.toDF("k", "t", "id").repartition(3), "k", "t", "id")
      .collect().head
    assert(a == b)
  }
}
