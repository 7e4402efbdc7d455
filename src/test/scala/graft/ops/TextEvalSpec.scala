package graft.ops

import graft.GraftSparkSuite

/** Generation-eval scoring: ROUGE-n against hand-counted clipped
  * overlaps (incl. the clipping rule and the empty-side zero), corpus
  * BLEU against closed-form precision/brevity cases, and the Chao1 /
  * Good–Turing coverage estimators on a tiny countable corpus. */
class TextEvalSpec extends GraftSparkSuite {

  test("rougeN: unigram and bigram closed forms, clipping, empty side") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat", "the cat ran"), // R1: 2/3 both sides
      (2L, "a a a", "a b"),               // clipping: overlap 1, P=1/3 R=1/2
      (3L, "", "some reference here")     // empty candidate -> zeros
    ).toDF("id", "cand", "ref")
    val r1 = TextEval.rougeN(df, "id", "cand", "ref", n = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .sortBy(_._1)
    assert(r1(0) == ((1L, 3L, 3L, 2L, 0.6667, 0.6667, 0.6667)), s"${r1(0)}")
    // f1 = 2*(1/3)*(1/2)/(5/6) = 0.4
    assert(r1(1) == ((2L, 3L, 2L, 1L, 0.3333, 0.5, 0.4)), s"${r1(1)}")
    assert(r1(2) == ((3L, 0L, 3L, 0L, 0.0, 0.0, 0.0)), s"${r1(2)}")
    // bigrams: cand {the cat, cat sat}, ref {the cat, cat ran} -> 1/2
    val r2 = TextEval.rougeN(df.filter($"id" === 1L), "id", "cand", "ref",
      n = 2).collect().head
    assert(r2.getLong(3) == 1L && r2.getDouble(4) == 0.5 &&
      r2.getDouble(5) == 0.5 && r2.getDouble(6) == 0.5, s"$r2")
  }

  test("rougeL: hand-computed LCS, reversal vs ROUGE-2 contrast, " +
    "empty and identical edges") {
    import spark.implicits._
    val df = Seq(
      // LCS("a b c b d a b", "b d c a b a") = 4 ("b d a b" / "b c b a"):
      // P = 4/7, R = 4/6, F1 = 16/26
      (1L, "a b c b d a b", "b d c a b a"),
      (2L, "the cat sat", "the cat sat"), // identical: all ratios 1
      (3L, "", "x y"),                    // empty candidate: zeros
      (4L, "d c b a", "a b c d")          // full reversal: LCS = 1
    ).toDF("id", "cand", "ref")
    val r = TextEval.rougeL(df, "id", "cand", "ref").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4), x.getDouble(5), x.getDouble(6)))
      .sortBy(_._1)
    assert(r(0) == ((1L, 7L, 6L, 4L, 0.5714, 0.6667, 0.6154)), s"${r(0)}")
    assert(r(1) == ((2L, 3L, 3L, 3L, 1.0, 1.0, 1.0)), s"${r(1)}")
    assert(r(2) == ((3L, 0L, 2L, 0L, 0.0, 0.0, 0.0)), s"${r(2)}")
    assert(r(3) == ((4L, 4L, 4L, 1L, 0.25, 0.25, 0.25)), s"${r(3)}")
    // the contrast ROUGE-L exists for: the reversed pair has ZERO
    // bigram overlap (ROUGE-2 f1 = 0) but a nonzero in-order LCS credit
    val r2 = TextEval.rougeN(df.filter($"id" === 4L), "id", "cand",
      "ref", n = 2).collect().head
    assert(r2.getDouble(6) == 0.0, s"$r2")
  }

  test("bleu: perfect match, clipped unigram, zeroing p2, brevity penalty") {
    import spark.implicits._
    // identical pair: p1 = p2 = bp = bleu = 1
    val perfect = Seq((1L, "the cat", "the cat")).toDF("id", "cand", "ref")
    val p = TextEval.bleu(perfect, "id", "cand", "ref", maxN = 2)
      .collect().head
    assert(p.getLong(0) == 2L && p.getLong(1) == 2L, s"$p")
    assert(p.getDouble(2) == 1.0 && p.getDouble(3) == 1.0 &&
      p.getDouble(4) == 1.0 && p.getDouble(5) == 1.0, s"$p")
    // clipped: cand "the the" vs ref "the cat": p1 = 1/2 (clip), no
    // bigram overlap -> p2 = 0 zeroes BLEU (the published convention)
    val clip = Seq((1L, "the the", "the cat")).toDF("id", "cand", "ref")
    val c = TextEval.bleu(clip, "id", "cand", "ref", maxN = 2)
      .collect().head
    assert(c.getDouble(2) == 0.5 && c.getDouble(3) == 0.0 &&
      c.getDouble(5) == 0.0, s"$c")
    // brevity: cand "the cat" vs ref "the cat sat": p1 = 1, p2 = 1,
    // bp = exp(1 - 3/2) = 0.6065 = bleu
    val brief = Seq((1L, "the cat", "the cat sat")).toDF("id", "cand", "ref")
    val b = TextEval.bleu(brief, "id", "cand", "ref", maxN = 2)
      .collect().head
    assert(b.getDouble(2) == 1.0 && b.getDouble(3) == 1.0, s"$b")
    assert(b.getDouble(4) == 0.6065 && b.getDouble(5) == 0.6065, s"$b")
  }

  test("vocabCoverage: Chao1 and Good-Turing closed forms") {
    import spark.implicits._
    // counts: a=2, b=2, c=1 -> N=5, V=3, F1=1, F2=2
    // chao1 = 3 + 1*0/(2*3) = 3.0; unseen = 1/5; coverage = 0.8
    val df = Seq("a b a", "c b").toDF("text")
    val r = TextEval.vocabCoverage(df, "text").collect().head
    assert(r.getLong(0) == 5L && r.getLong(1) == 3L, s"$r")
    assert(r.getLong(2) == 1L && r.getLong(3) == 2L, s"$r")
    assert(r.getDouble(4) == 3.0, s"chao1: $r")
    assert(r.getDouble(5) == 0.2 && r.getDouble(6) == 0.8, s"$r")
    // all singletons: F1=V -> chao1 = V + V(V-1)/2, unseen mass = 1
    val s1 = TextEval.vocabCoverage(Seq("x y z").toDF("text"), "text")
      .collect().head
    assert(s1.getDouble(4) == 6.0, s"chao1: $s1") // 3 + 3*2/2
    assert(s1.getDouble(5) == 1.0 && s1.getDouble(6) == 0.0, s"$s1")
  }

  test("chrF: perfect, clipped, whitespace removal, beta weighting, " +
    "level exclusion") {
    import spark.implicits._
    def run(cand: String, ref: String, maxN: Int, beta: Double = 2.0) =
      TextEval.chrF(Seq((1L, cand, ref)).toDF("id", "cand", "ref"),
        "id", "cand", "ref", maxN, beta).collect().head
    // identical: every level perfect
    val p = run("abab", "abab", 2)
    assert(p.getLong(0) == 4L && p.getLong(1) == 4L && p.getLong(2) == 2L,
      s"$p")
    assert(p.getDouble(3) == 1.0 && p.getDouble(4) == 1.0 &&
      p.getDouble(5) == 1.0, s"$p")
    // clipping: "aa" vs "ab" -> p1 = r1 = 1/2 (a clips to 1), p2 = 0
    // -> chrp = chrr = 0.25, F2 = 5*.25*.25/(4*.25+.25) = 0.25
    val c = run("aa", "ab", 2)
    assert(c.getDouble(3) == 0.25 && c.getDouble(4) == 0.25 &&
      c.getDouble(5) == 0.25, s"$c")
    // whitespace is removed before gramming: "a b" == "ab"
    val ws = run("a b", "ab", 2)
    assert(ws.getDouble(5) == 1.0 && ws.getLong(0) == 2L, s"$ws")
    // beta = 2 weights recall: p = 1, r = 1/2 -> 5*0.5/4.5 = 0.5556;
    // beta = 1 gives the harmonic mean 0.6667
    val b2 = run("ab", "abcd", 1)
    assert(b2.getDouble(3) == 1.0 && b2.getDouble(4) == 0.5 &&
      b2.getDouble(5) == 0.5556, s"$b2")
    assert(run("ab", "abcd", 1, beta = 1.0).getDouble(5) == 0.6667)
    // n-levels where both sides are too short are excluded, not zeroed
    val lv = run("a", "b", 3)
    assert(lv.getLong(2) == 1L && lv.getDouble(5) == 0.0, s"$lv")
  }
}
