package graft.ops

import graft.GraftSparkSuite

/** Eval-tier operators: pass@k against hand-computed combinatorics
  * (incl. the all-pass shortcut and the <k drop rule), Fleiss' kappa on a
  * worked 2-item example plus the modal-panel drop, and majority-vote
  * election determinism under ties. */
class EvalSpec extends GraftSparkSuite {

  test("passAtK: unbiased estimator matches hand combinatorics") {
    import spark.implicits._
    // p1: n=5, c=2 -> pass@1 = 1 - C(3,1)/C(5,1) = 1 - 3/5 = 0.4
    //                 pass@3 = 1 - C(3,3)/C(5,3) = 1 - 1/10 = 0.9
    //                 pass@5: n-c=3 < 5 -> 1.0
    // p2: n=3, c=0 -> pass@1 = 0, pass@3 = 0, dropped for k=5
    val rows =
      (1 to 5).map(i => ("p1", i <= 2)) ++ (1 to 3).map(_ => ("p2", false))
    val out = Eval.passAtK(rows.toDF("problem", "correct"),
      "problem", "correct", Seq(1, 3, 5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1)
    assert(out(0) == ((1L, 2L, 0L, 0.2)), s"k=1: ${out(0)}") // mean(0.4, 0)
    assert(out(1) == ((3L, 2L, 0L, 0.45)), s"k=3: ${out(1)}") // mean(0.9, 0)
    assert(out(2) == ((5L, 1L, 1L, 1.0)), s"k=5: ${out(2)}")
  }

  test("fleissKappa: worked example and the modal-panel drop rule") {
    import spark.implicits._
    // i1 rated (a,a,a): P=1; i2 rated (a,b,b): P=(5-3)/6=1/3 -> p_bar=2/3
    // votes a=4, b=2 of 6 -> p_e=(4/6)^2+(2/6)^2=5/9
    // kappa = (2/3 - 5/9)/(1 - 5/9) = (1/9)/(4/9) = 0.25
    // i3 has only 2 ratings -> dropped by the modal(3) filter
    val rows = Seq(("i1", "a"), ("i1", "a"), ("i1", "a"),
      ("i2", "a"), ("i2", "b"), ("i2", "b"),
      ("i3", "a"), ("i3", "a"))
    val r = Eval.fleissKappa(rows.toDF("item", "cat"), "item", "cat")
      .collect().head
    assert(r.getLong(0) == 2L, s"n_items: $r")
    assert(r.getLong(1) == 1L, s"n_dropped: $r")
    assert(r.getLong(2) == 3L, s"n_raters: $r")
    assert(math.abs(r.getDouble(3) - 0.6667) < 1e-9, s"p_bar: $r")
    assert(math.abs(r.getDouble(4) - 0.5556) < 1e-9, s"p_e: $r")
    assert(math.abs(r.getDouble(5) - 0.25) < 1e-9, s"kappa: $r")
  }

  test("fleissKappa at 1e6 items: closed-form kappa, no driver-side " +
    "item collect (the kept-item join is unhinted — AQE decides)") {
    import org.apache.spark.sql.functions._
    // rater r rates item i as ((i + r) % 2): every item gets (2,1) votes
    // split, P_i = 1/3, category mass is exactly 50/50 -> p_e = 0.5,
    // kappa = (1/3 - 1/2) / (1/2) = -1/3. A forced broadcast of the
    // kept-item list here would ship 1e6 rows through the driver.
    val n = 1000000L
    val rated = spark.range(n)
      .select(col("id").as("item"),
        explode(array((col("id") % 2), ((col("id") + 1) % 2),
          ((col("id") + 2) % 2))).as("c"))
      .select(col("item"), col("c").cast("string").as("cat"))
    val r = Eval.fleissKappa(rated, "item", "cat").collect().head
    assert(r.getLong(0) == n && r.getLong(1) == 0L && r.getLong(2) == 3L,
      s"$r")
    assert(math.abs(r.getDouble(3) - 0.3333) < 1e-9, s"p_bar: $r")
    assert(math.abs(r.getDouble(4) - 0.5) < 1e-9, s"p_e: $r")
    assert(math.abs(r.getDouble(5) - (-0.3333)) < 1e-9, s"kappa: $r")
  }

  test("krippendorffAlpha: worked variable-panel example, single-rating " +
    "drop, perfect-agreement and one-category conventions") {
    import spark.implicits._
    // i1 (a,a): pairable disagreement 0; i2 (a,b): (4-2)/1 = 2;
    // i3 (b,b,b): 0; i4 single rating -> dropped.
    // n = 7, D_o = 2/7; pooled a=3, b=4 -> D_e = (49-25)/42 = 4/7;
    // alpha = 1 - (2/7)/(4/7) = 0.5
    val rows = Seq(("i1", "a"), ("i1", "a"), ("i2", "a"), ("i2", "b"),
      ("i3", "b"), ("i3", "b"), ("i3", "b"), ("i4", "c"))
    val r = Eval.krippendorffAlpha(rows.toDF("item", "cat"), "item", "cat")
      .collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 1L && r.getLong(2) == 7L
      && r.getLong(3) == 2L, s"$r")
    assert(math.abs(r.getDouble(4) - 0.285714) < 1e-9, s"d_o: $r")
    assert(math.abs(r.getDouble(5) - 0.571429) < 1e-9, s"d_e: $r")
    assert(math.abs(r.getDouble(6) - 0.5) < 1e-9, s"alpha: $r")
    // perfect agreement across two categories: D_o = 0, alpha = 1
    val perfect = Seq(("x", "a"), ("x", "a"), ("y", "b"), ("y", "b"))
    val p = Eval.krippendorffAlpha(perfect.toDF("item", "cat"),
      "item", "cat").collect().head
    assert(p.getDouble(6) == 1.0, s"$p")
    // one category everywhere: D_e = 0 -> alpha = 1 by convention
    val one = Seq(("x", "a"), ("x", "a"), ("y", "a"), ("y", "a"))
    val o = Eval.krippendorffAlpha(one.toDF("item", "cat"), "item", "cat")
      .collect().head
    assert(o.getDouble(5) == 0.0 && o.getDouble(6) == 1.0, s"$o")
    // systematic disagreement goes negative (worse than chance)
    val anti = Seq(("x", "a"), ("x", "b"), ("y", "a"), ("y", "b"))
    val an = Eval.krippendorffAlpha(anti.toDF("item", "cat"), "item", "cat")
      .collect().head
    assert(an.getDouble(6) < 0, s"$an")
  }

  test("mcnemar: hand-computed discordant cells, continuity clamp, " +
    "no-discordance NULL, significance cut") {
    import spark.implicits._
    // 30 items: both right 14, both wrong 4, only A 2, only B 10
    // chi2 = (|2-10|-1)^2 / 12 = 49/12 = 4.0833 > 3.8415 -> significant
    val rows = (1 to 14).map(i => (s"i$i", true, true)) ++
      (1 to 4).map(i => (s"w$i", false, false)) ++
      (1 to 2).map(i => (s"a$i", true, false)) ++
      (1 to 10).map(i => (s"b$i", false, true))
    val r = Eval.mcnemar(rows.toDF("item", "ca", "cb"), "item", "ca", "cb")
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((30L, 14L, 4L, 2L, 10L)), s"$r")
    assert(math.abs(r.getDouble(5) - 0.5333) < 1e-9, s"acc_a: $r")
    assert(math.abs(r.getDouble(6) - 0.8) < 1e-9, s"acc_b: $r")
    assert(math.abs(r.getDouble(7) - 4.0833) < 1e-9, s"chi2: $r")
    assert(r.getBoolean(8), s"significant: $r")
    // b == c: the clamp keeps chi2 at 0, not (0-1)^2/(b+c)
    val tied = Seq(("1", true, false), ("2", false, true),
      ("3", true, true))
    val t2 = Eval.mcnemar(tied.toDF("item", "ca", "cb"), "item", "ca", "cb")
      .collect().head
    assert(t2.getDouble(7) == 0.0 && !t2.getBoolean(8), s"$t2")
    // no discordant items: NULL chi2, never significant
    val same = Seq(("1", true, true), ("2", false, false))
    val s2 = Eval.mcnemar(same.toDF("item", "ca", "cb"), "item", "ca", "cb")
      .collect().head
    assert(s2.isNullAt(7) && !s2.getBoolean(8), s"$s2")
  }

  test("majorityVote: election, margin, and deterministic tie-break") {
    import spark.implicits._
    val rows = Seq(("q1", "x"), ("q1", "x"), ("q1", "y"),    // x by 2:1
      ("q2", "b"), ("q2", "a"),                              // tie -> 'a'
      ("q3", "z"))                                           // unanimous
    val out = Eval.majorityVote(rows.toDF("problem", "answer"),
      "problem", "answer")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).sortBy(_._1)
    assert(out(0) == (("q1", "x", 2L, 3L, 0.6667, 1L)), s"${out(0)}")
    assert(out(1) == (("q2", "a", 1L, 2L, 0.5, 0L)), s"${out(1)}")
    assert(out(2) == (("q3", "z", 1L, 1L, 1.0, 1L)), s"${out(2)}")
  }

  test("bradleyTerry: two-item fixed point, zero-win item, roster guard") {
    import spark.implicits._
    // A beats B 3x, B beats A 1x: the MM fixed point is reached in ONE
    // round (denom_A = denom_B = 4/(pi_A+pi_B) = 4), so pi = (3/4, 1/4) —
    // the analytic P(A beats B) = 0.75
    val ab = (Seq.fill(3)(("A", "B")) ++ Seq(("B", "A")))
      .toDF("winner", "loser")
    val out = Eval.bradleyTerry(ab, "winner", "loser", iters = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).sortBy(_._1)
    assert(out(0) == (("A", 3L, 1L, 4L, 0.75, 1L)), s"A: ${out(0)}")
    assert(out(1) == (("B", 1L, 3L, 4L, 0.25, 2L)), s"B: ${out(1)}")
    // zero-win item: rating exactly 0 (wins/denom = 0 from round 1), the
    // sole winner takes the whole normalized mass
    val ac = Seq(("A", "C"), ("A", "C")).toDF("winner", "loser")
    val zw = Eval.bradleyTerry(ac, "winner", "loser", iters = 10)
      .collect().map(r => (r.getString(0), r.getDouble(4), r.getLong(5)))
      .sortBy(_._1)
    assert(zw(0) == (("A", 1.0, 1L)), s"A: ${zw(0)}")
    assert(zw(1) == (("C", 0.0, 2L)), s"C: ${zw(1)}")
    // roster guard: 3 distinct items against maxItems=2 throws with the
    // sized, actionable message BEFORE any driver matrix is allocated
    val big = Seq(("A", "B"), ("B", "C"), ("C", "A"))
      .toDF("winner", "loser")
    val e = intercept[IllegalArgumentException] {
      Eval.bradleyTerry(big, "winner", "loser", iters = 10, maxItems = 2)
    }
    assert(e.getMessage.contains("maxItems=2"), e.getMessage)
    assert(e.getMessage.contains("3 x 3"), e.getMessage)
  }

  test("winRateMatrix: canonicalized pairs, tie-splitting rates, " +
    "unknown winner counts as tie, self-battles dropped") {
    import spark.implicits._
    // A vs B: A wins 2 (one recorded as (B,A)), B wins 1, 1 tie (null
    // winner) -> rate_A = (2 + 0.5)/4 = 0.625
    // A vs C: 1 battle, winner 'both_bad' (matches neither) -> tie,
    // rate 0.5/0.5; the (C,C) self-battle row is dropped entirely
    val rows = Seq(
      ("A", "B", "A"), ("B", "A", "A"), ("A", "B", "B"),
      ("A", "B", null), ("A", "C", "both_bad"), ("C", "C", "C"))
    val out = Eval.winRateMatrix(rows.toDF("ma", "mb", "win"),
        "ma", "mb", "win")
      .orderBy("model_a", "model_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6),
        r.getDouble(7)))
    assert(out.length == 2, out.mkString("; "))
    assert(out(0) == (("A", "B", 4L, 2L, 1L, 1L, 0.625, 0.375)),
      s"${out(0)}")
    assert(out(1) == (("A", "C", 1L, 0L, 0L, 1L, 0.5, 0.5)), s"${out(1)}")
  }

  test("judgeRerank: hand-computed means, exact ties share a rank, " +
    "is_pick elects exactly one winner per group, null scores dropped") {
    import spark.implicits._
    val rows = Seq(
      // g1: c1 scored (3.0, 2.0) by judges j1/j2 -> mean 2.5;
      //     c2 scored 2.5 by each of j1, j2, j3 -> mean 2.5 (TIE with
      //     c1 at 4dp); c3 scored 1.0 once -> mean 1.0
      ("g1", "c1", "j1", Some(3.0)), ("g1", "c1", "j2", Some(2.0)),
      ("g1", "c2", "j1", Some(2.5)), ("g1", "c2", "j2", Some(2.5)),
      ("g1", "c2", "j3", Some(2.5)), ("g1", "c3", "j1", Some(1.0)),
      // g2: one candidate, plus a null-score judgment that must not
      // count toward n_judgments
      ("g2", "c9", "j1", Some(4.0)), ("g2", "c9", "j2", None))
      .toDF("grp", "cand", "judge", "score")
    val out = Eval.judgeRerank(rows, "grp", "cand", "judge", "score")
      .orderBy("group", "candidate").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(7),
          r.getLong(8)))).toMap
    // c1 and c2 tie at mean 2.5: both rank 1 (competition rank), c3
    // ranks 3 (the tie consumes two positions); the pick is c1 (the
    // smaller candidate key at the tied top)
    assert(out(("g1", "c1")) == ((2L, 2L, 2.5, 1L, 1L)), s"$out")
    assert(out(("g1", "c2")) == ((3L, 3L, 2.5, 1L, 0L)), s"$out")
    assert(out(("g1", "c3")) == ((1L, 1L, 1.0, 3L, 0L)), s"$out")
    assert(out(("g2", "c9")) == ((1L, 1L, 4.0, 1L, 1L)), s"$out")
    // min/max split on the judge-dependent candidate
    val c1 = Eval.judgeRerank(rows, "grp", "cand", "judge", "score")
      .filter($"group" === "g1" && $"candidate" === "c1").collect().head
    assert(c1.getDouble(5) == 2.0 && c1.getDouble(6) == 3.0)
  }

  test("mbrSelect: consensus argmax, tie to smallest id, singleton and " +
    "empty-text groups") {
    import spark.implicits._
    val df = Seq(
      // g1: c1 and c2 agree ("a b"), c3 is the outlier
      //   sim(c1,c2)=1, sim(c1,c3)=0, sim(c2,c3)=0
      //   mbr: c1 = c2 = 0.5 (tie -> smallest id), c3 = 0
      (1L, 1L, "a b"), (1L, 2L, "b a"), (1L, 3L, "x y"),
      // g2: singleton -> selected with NULL score
      (2L, 7L, "solo"),
      // g3: two whitespace-only candidates -> identical empties, sim 1
      (3L, 4L, " "), (3L, 5L, "")
    ).toDF("grp", "cid", "text")
    val r = Eval.mbrSelect(df, "grp", "cid", "text")
      .orderBy("grp").collect()
    assert(r.length == 3, r.mkString("; "))
    assert(r(0).getLong(1) == 1L && r(0).getDouble(2) == 0.5 &&
      r(0).getLong(3) == 3L, s"${r(0)}")
    assert(r(1).getLong(1) == 7L && r(1).isNullAt(2) &&
      r(1).getLong(3) == 1L, s"${r(1)}")
    assert(r(2).getLong(1) == 4L && r(2).getDouble(2) == 1.0 &&
      r(2).getLong(3) == 2L, s"${r(2)}")
    // the outlier really does lose: partial overlap beats none
    val d2 = Seq((9L, 1L, "p q r"), (9L, 2L, "p q z"), (9L, 3L, "m n o"))
      .toDF("grp", "cid", "text")
    val w = Eval.mbrSelect(d2, "grp", "cid", "text").collect().head
    // sim(1,2) = 2/4 = 0.5, sim(1,3) = 0, sim(2,3) = 0
    // mbr: c1 = c2 = 0.25 -> tie to id 1
    assert(w.getLong(1) == 1L && w.getDouble(2) == 0.25, s"$w")
  }

  test("rbo: identical prefixes score exactly 1, a swap matches hand " +
      "arithmetic, disjoint and one-sided groups report 0") {
    import spark.implicits._
    // g1: identical top-2 -> normalized truncated RBO = 1 exactly
    // g2: A=[x,y] B=[y,x], k=2 p=0.5:
    //   raw = (1-p)(p^0*0/1 + p^1*2/2) = 0.25; / (1-p^2) = 1/3
    // g3: disjoint prefixes -> 0, group still present
    // g4: only in A -> present with n_common=0, rbo=0
    val a = Seq(("g1", "x", 1), ("g1", "y", 2),
      ("g2", "x", 1), ("g2", "y", 2),
      ("g3", "u", 1), ("g3", "v", 2),
      ("g4", "x", 1)).toDF("grp", "item", "r")
    val b = Seq(("g1", "x", 1), ("g1", "y", 2),
      ("g2", "y", 1), ("g2", "x", 2),
      ("g3", "w", 1), ("g3", "z", 2)).toDF("grp", "item", "r")
    val out = Eval.rbo(a, b, Seq("grp"), "item", "r", k = 2, p = 0.5)
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out(0) == (("g1", 2L, 1.0)), s"identical: ${out(0)}")
    assert(out(1) == (("g2", 2L, 0.333333)), s"swap: ${out(1)}")
    assert(out(2) == (("g3", 0L, 0.0)), s"disjoint: ${out(2)}")
    assert(out(3) == (("g4", 0L, 0.0)), s"one-sided: ${out(3)}")
    // ranks beyond k are ignored, not an error
    val a2 = Seq(("g", "x", 1), ("g", "deep", 9)).toDF("grp", "item", "r")
    val b2 = Seq(("g", "x", 1), ("g", "deep", 9)).toDF("grp", "item", "r")
    val r2 = Eval.rbo(a2, b2, Seq("grp"), "item", "r", k = 2, p = 0.5)
      .collect().head
    assert(r2.getLong(1) == 1L, s"depth filter: $r2")
    intercept[IllegalArgumentException] {
      Eval.rbo(a, b, Seq("grp"), "item", "r", k = 0)
    }
    intercept[IllegalArgumentException] {
      Eval.rbo(a, b, Seq("grp"), "item", "r", k = 2, p = 1.0)
    }
  }
}
