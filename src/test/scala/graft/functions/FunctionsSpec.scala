package graft.functions

import graft.GraftSparkSuite
import org.apache.spark.sql.functions._

import graft.ops.Similarity

class FunctionsSpec extends GraftSparkSuite {

  test("native graft_dot equals built-in composition on real embeddings") {
    GraftFunctions.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val both = emb.select(
      col("vec_id"),
      Similarity.dot(col("v"), col("v")).as("builtin"),
      Similarity.dotNative(col("v"), col("v")).as("native"))
    val maxDiff = both.agg(max(abs(col("builtin") - col("native"))))
      .collect()(0).getDouble(0)
    assert(maxDiff < 1e-12, s"native/builtin dot differ by $maxDiff")
  }

  test("graft_dot null handling and SQL registration") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))),
      (None, Some(Seq(1.0, 1.0)))).toDF("a", "b")
    df.createOrReplaceTempView("dot_in")
    val rows = spark.sql("SELECT graft_dot(a, b) AS d FROM dot_in ORDER BY d NULLS LAST").collect()
    assert(rows(0).getDouble(0) == 11.0)
    assert(rows(1).isNullAt(0))
  }

  test("graft_ratio: fused kernel equals the expression composition") {
    GraftFunctions.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    val theta = typedlit((1 to 64).map(i => (i % 7 - 3) * 0.11))
    for ((eta, lb, ub) <- Seq(
        (1.0, 0.0, Double.PositiveInfinity),
        (-1.0, 0.0, Double.PositiveInfinity),
        (2.5, 0.8, 1.2),
        (1.0, 0.0, 5.0))) {
      val t = call_function("graft_dot", col("v"), theta)
      val composed0 = exp(least(t * lit(eta), lit(700.0)))
      val composedLo = greatest(composed0, lit(lb))
      val composed = if (ub.isInfinite) composedLo else least(composedLo, lit(ub))
      val fused = call_function("graft_ratio", col("v"), theta,
        lit(eta), lit(lb), lit(ub))
      // ulp-level agreement (the two exp call sites may round differently
      // by 1 ulp; the solver-parity contract is with Link.rAndSlope)
      val maxRel = emb.select(
        max(abs(composed - fused) / greatest(abs(composed), lit(1.0))).as("d"))
        .collect()(0).getDouble(0)
      assert(maxRel < 1e-14, s"eta=$eta lb=$lb ub=$ub differ by rel $maxRel")
    }
    // interpreted path agrees with codegen
    val row = ClippedExpRatio(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0, 2.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(0.5, -0.25), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      2.0, 0.9, 1.1).eval(null)
    assert(math.abs(row.asInstanceOf[Double] - 1.0) < 1e-15) // exp(0)=1 in [0.9,1.1]
  }

  test("graft_dot participates in whole-stage codegen") {
    GraftFunctions.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    val plan = emb.select(Similarity.dotNative(col("v"), col("v")).as("d"))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_dot") && l.trim.startsWith("*(")),
      s"graft_dot not inside a codegen stage:\n$plan")
  }

  test("graft_lcs: case-folded tokenization, symmetry, codegen stage, " +
    "fuzz vs full-matrix reference DP") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // case folding + multi-whitespace runs are part of the kernel
    val got = Seq(("A b C  b\td a B", "b d c a b a")).toDF("a", "b")
      .selectExpr("graft_lcs(a, b) AS l")
      .selectExpr("l.cand_len", "l.ref_len", "l.lcs").collect().head
    assert(got.getLong(0) == 7L && got.getLong(1) == 6L &&
      got.getLong(2) == 4L, s"$got")
    // interpreted eval agrees with the codegen'd path
    val row = LcsKernel.tokenLcs(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b c"),
      org.apache.spark.unsafe.types.UTF8String.fromString("b c d"))
    assert(row.getLong(0) == 3L && row.getLong(1) == 3L &&
      row.getLong(2) == 2L, s"$row")
    // kernel sits inside a WholeStageCodegen stage
    val plan = spark.range(10).toDF("i")
      .selectExpr("cast(i as string) AS s")
      .selectExpr("graft_lcs(s, 'x 1') AS l")
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_lcs") && l.trim.startsWith("*(")),
      s"graft_lcs not inside a codegen stage:\n$plan")
    // fuzz: the two-row min-side-inner DP vs the textbook full-matrix
    // reference, random short sequences over a small alphabet (dense
    // match structure), symmetry included
    def refLcs(a: Array[String], b: Array[String]): Long = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) =
          if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
          else math.max(dp(i - 1)(j), dp(i)(j - 1))
      dp(a.length)(b.length).toLong
    }
    val rnd = new scala.util.Random(4217)
    val alpha = Array("a", "b", "c", "d")
    (1 to 300).foreach { k =>
      val a = Array.fill(rnd.nextInt(13))(alpha(rnd.nextInt(4)))
      val b = Array.fill(rnd.nextInt(13))(alpha(rnd.nextInt(4)))
      val want = refLcs(a, b)
      val gotRow = LcsKernel.tokenLcs(
        org.apache.spark.unsafe.types.UTF8String.fromString(a.mkString(" ")),
        org.apache.spark.unsafe.types.UTF8String.fromString(b.mkString(" ")))
      assert(gotRow.getLong(2) == want,
        s"case $k: ${a.mkString(" ")} | ${b.mkString(" ")}: " +
          s"got ${gotRow.getLong(2)}, want $want")
      val sym = LcsKernel.tokenLcs(
        org.apache.spark.unsafe.types.UTF8String.fromString(b.mkString(" ")),
        org.apache.spark.unsafe.types.UTF8String.fromString(a.mkString(" ")))
      assert(sym.getLong(2) == want, s"asymmetric LCS at case $k")
    }
  }

  test("graft_jaro: textbook fixtures, DuckDB edge conventions, codegen") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // classic published values + the DuckDB empty-string convention
    // (either side empty scores 0, including both empty)
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("CRATES", "TRACES", 0.7777777777777778), // jaro <= 0.7: no boost
      ("abc", "abc", 1.0),
      ("ab", "ba", 0.0), // m = 0 at window 0
      ("", "", 0.0), ("a", "", 0.0), ("", "a", 0.0))
    val got = cases.toDF("a", "b", "want")
      .selectExpr("graft_jaro(a, b) AS got", "want").collect()
    got.foreach(r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12, r.toString))
    // interpreted eval agrees with the codegen'd path
    val e = graft.functions.JaroWinklerKernel.simStr("dixon", "dicksonx")
    assert(math.abs(e - 0.8133333333333332) < 1e-12)
    // kernel sits inside a WholeStageCodegen stage
    val plan = spark.range(10).toDF("i")
      .selectExpr("cast(i as string) AS s")
      .selectExpr("graft_jaro(s, 'x') AS j")
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_jaro") && l.trim.startsWith("*(")),
      s"graft_jaro not inside a codegen stage:\n$plan")
    // supplementary code points count as ONE character
    assert(graft.functions.JaroWinklerKernel.simStr("😀", "😀") == 1.0)
  }

  test("graft_del_hashes: neighborhood sizes, FastSS sharing law, " +
    "disjointness, k bounds") {
    import org.apache.spark.unsafe.types.UTF8String
    def hs(s: String, k: Int): Set[Long] =
      DeletionHashKernel.hashes(UTF8String.fromString(s), k)
        .toLongArray().toSet
    // "abc" k=2: {abc, ab, ac, bc, a, b, c} = 7 distinct variants
    assert(hs("abc", 2).size == 7)
    assert(hs("abc", 1).size == 4) // {abc, ab, ac, bc}
    assert(hs("abc", 0).size == 1)
    // repeated chars collapse: "aaa" deletions are {aaa, aa, a} = 3
    assert(hs("aaa", 2).size == 3)
    // FastSS sharing law: ed <= k implies shared variant hash
    assert((hs("abcdef", 2) & hs("abXdYf", 2)).nonEmpty)  // 2 substitutions
    assert((hs("abcdef", 2) & hs("abdef", 2)).nonEmpty)   // 1 deletion
    assert((hs("abcdef", 2) & hs("abZcdef", 2)).nonEmpty) // 1 insertion
    assert((hs("abcdef", 1) & hs("aXcdeY", 1)).isEmpty)   // ed 2 > k=1
    // digit-rotated names (the ScaleUp bijection) share nothing at k=2
    assert((hs("Customer#000000007", 2) & hs("Customer#111111118", 2)).isEmpty)
    // empty string: just itself
    assert(hs("", 2).size == 1)
    // supplementary code points delete ATOMICALLY (one edit, not two
    // UTF-16 units): "a😀c" vs "abc" is ONE substitution, so k=1
    // neighborhoods must intersect (deleting the differing position)
    assert(hs("a😀c", 1).size == 4) // 3 code points → 1+3 variants
    assert((hs("a😀c", 1) & hs("abc", 1)).nonEmpty)
    // and a pure supplementary 1-deletion pair shares at k=1
    assert((hs("😀😁", 1) & hs("😀", 0)).nonEmpty)
    intercept[IllegalArgumentException] {
      DeletionHashKernel.hashes(UTF8String.fromString("x"), 3)
    }
    // SQL registration + codegen participation
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq("abc").toDF("s")
      .selectExpr("size(graft_del_hashes(s, 2)) AS n")
    assert(df.collect().head.getInt(0) == 7)
  }

  test("graft_clip_counts: clipped overlap closed forms (word + char), " +
    "null/empty sides, codegen participation, type checks") {
    GraftFunctions.register(spark)
    import spark.implicits._
    def word(c: String, r: String, nFrom: Int, nTo: Int) =
      Seq((c, r)).toDF("c", "r")
        .selectExpr("explode(graft_clip_counts(" +
          s"filter(split(lower(c), '\\\\s+'), w -> w != ''), " +
          s"filter(split(lower(r), '\\\\s+'), w -> w != ''), $nFrom, $nTo)) AS x")
        .select("x.n", "x.cc", "x.rc", "x.clip")
        .collect().map(r0 =>
          r0.getInt(0) -> ((r0.getLong(1), r0.getLong(2), r0.getLong(3))))
        .toMap
    // the BLEU paper's clipping example: "the the the the the the the"
    // vs "the cat is on the mat" — 7 candidate unigrams, clip = 2
    val m1 = word("the the the the the the the", "the cat is on the mat", 1, 2)
    assert(m1(1) == ((7L, 6L, 2L)), s"${m1(1)}")
    assert(m1(2) == ((6L, 5L, 0L)), s"${m1(2)}") // ref has no "the the"
    // repeated bigram credit caps at the reference count
    val m2 = word("a b a b a b", "a b a b x", 2, 2)
    assert(m2(2) == ((5L, 4L, 3L)), s"${m2(2)}") // ab×3,ba×2 vs ab×2,ba×1
    // a side shorter than n yields zero counts on that side
    val m3 = word("a", "a b c", 2, 2)
    assert(m3(2) == ((0L, 2L, 0L)), s"${m3(2)}")
    // empty sides: rows still emitted, all zeros at every level
    val m4 = word("", "", 1, 3)
    assert((1 to 3).forall(n => m4(n) == ((0L, 0L, 0L))), s"$m4")
    // char form: "abab" vs "abac" — 2-grams ab,ba,ab vs ab,ba,ac → clip 2
    val mc = Seq(("abab", "unused")).toDF("c", "r")
      .selectExpr("explode(graft_clip_counts(c, 'abac', 2, 2)) AS x")
      .select("x.cc", "x.rc", "x.clip").collect().head
    assert(mc.getLong(0) == 3L && mc.getLong(1) == 3L && mc.getLong(2) == 2L,
      s"$mc")
    // 'tokens' mode == HOF tokenizer fed to the array form, for mixed
    // case / messy whitespace / empty strings
    for ((c, r) <- Seq(
        ("The  quick\tBrown fox", "the quick brown FOX jumps"),
        ("  ", "a b"), ("", ""), ("a\nb\r\nc", "A B C d"))) {
      val viaTokens = Seq((c, r)).toDF("c", "r")
        .selectExpr("graft_clip_counts(c, r, 1, 2, 'tokens') AS k")
        .collect().head.toSeq
      val viaArrays = Seq((c, r)).toDF("c", "r")
        .selectExpr("graft_clip_counts(" +
          "filter(split(lower(c), '\\\\s+'), w -> w != ''), " +
          "filter(split(lower(r), '\\\\s+'), w -> w != ''), 1, 2) AS k")
        .collect().head.toSeq
      assert(viaTokens == viaArrays, s"'$c' vs '$r': $viaTokens / $viaArrays")
    }
    // kernel sits inside a WholeStageCodegen stage
    val plan = spark.range(10).toDF("i")
      .selectExpr("cast(i as string) AS s")
      .selectExpr("graft_clip_counts(s, 'x', 1, 2) AS k")
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_clip_counts") && l.trim.startsWith("*(")),
      s"graft_clip_counts not inside a codegen stage:\n$plan")
    // type errors are analysis-time, actionable
    val err = intercept[Exception] {
      Seq((1, 2)).toDF("a", "b")
        .selectExpr("graft_clip_counts(a, b, 1, 2)").collect()
    }
    assert(err.getMessage.contains("graft_clip_counts"), err.getMessage)
    // mismatched gram range rejected
    val err2 = intercept[Exception] {
      Seq(("a", "b")).toDF("a", "b")
        .selectExpr("graft_clip_counts(a, b, 3, 2)").collect()
    }
    assert(err2.getMessage != null)
  }

  test("graft_argmin_centroid: pair/code modes match a driver-side " +
    "reference on real embeddings, ties go to the lowest id") {
    GraftFunctions.register(spark)
    val dim = 64
    val rng = new scala.util.Random(7)
    val cents = (0 until 5).map(c => (c * 3 + 1,
      Seq.fill(dim)(rng.nextDouble() * 2 - 1)))
    val flat = cents.flatMap(_._2).toArray
    val ids = cents.map(_._1).toArray
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val got = emb.select(col("vec_id"),
        call_function("graft_argmin_centroid", col("v"), typedlit(flat),
          typedlit(ids), lit(0), lit(dim), lit(dim), lit(true)).as("pair"),
        call_function("graft_argmin_centroid", col("v"), typedlit(
            cents.flatMap(_._2.slice(16, 32)).toArray),
          typedlit(ids), lit(16), lit(16), lit(dim), lit(false)).as("code"))
      .collect()
      .map { r =>
        val s = r.getSeq[Double](1)
        r.getLong(0) -> ((s(0), s(1), r.getInt(2)))
      }.toMap
    val ref = emb.collect().map { r =>
      val x = r.getSeq[Double](1)
      def argmin(off: Int, ds: Int): (Double, Int) =
        cents.foldLeft((Double.PositiveInfinity, -1)) {
          case ((b, bi), (cid, cv)) =>
            var d = 0.0
            for (j <- 0 until ds) {
              val t = x(off + j) - cv(off + j); d += t * t
            }
            if (d < b) (d, cid) else (b, bi)
        }
      val (fd, fc) = argmin(0, dim)
      val (_, wc) = argmin(16, 16)
      r.getLong(0) -> ((fd, fc.toDouble, wc))
    }.toMap
    assert(got.keySet == ref.keySet)
    for (k <- got.keys) {
      assert(math.abs(got(k)._1 - ref(k)._1) < 1e-12, s"$k: $got vs $ref")
      assert(got(k)._2 == ref(k)._2 && got(k)._3 == ref(k)._3,
        s"$k: ${got(k)} vs ${ref(k)}")
    }
    // strict-< tie rule: two identical centroids -> the LOWER id wins
    import spark.implicits._
    val tied = Seq(Seq(1.0, 1.0)).toDF("v")
      .select(call_function("graft_argmin_centroid", col("v"),
        typedlit(Array(1.0, 1.0, 1.0, 1.0)), typedlit(Array(4, 9)),
        lit(0), lit(2), lit(2), lit(false)))
      .collect()(0).getInt(0)
    assert(tied == 4, s"tie must resolve to the lowest id, got $tied")
  }

  test("graft_argmin_centroid: null vector -> null, sized errors on " +
    "wrong dimension and null elements, codegen participation") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val args: Seq[org.apache.spark.sql.Column] = Seq(
      typedlit(Array(0.0, 0.0)), typedlit(Array(0)), lit(0), lit(2),
      lit(2), lit(true))
    val nulls = Seq((1, Some(Seq(1.0, 2.0))), (2, None)).toDF("i", "v")
      .select(col("i"),
        call_function("graft_argmin_centroid", col("v") +: args: _*).as("p"))
      .collect().map(r => r.getInt(0) -> r.isNullAt(1)).toMap
    assert(nulls == Map(1 -> false, 2 -> true), s"$nulls")
    val dimErr = intercept[Exception] {
      Seq(Seq(1.0, 2.0, 3.0)).toDF("v")
        .select(call_function("graft_argmin_centroid", col("v") +: args: _*))
        .collect()
    }
    assert(dimErr.getMessage.contains("mixed-dimension corpus"),
      dimErr.getMessage)
    val nullErr = intercept[Exception] {
      Seq(Seq(Some(1.0), None)).toDF("v")
        .select(call_function("graft_argmin_centroid",
          col("v").cast("array<double>") +: args: _*))
        .collect()
    }
    assert(nullErr.getMessage.contains("null element at position"),
      nullErr.getMessage)
    val plan = spark.range(4)
      .select(array(col("id").cast("double"),
        col("id").cast("double")).as("v"))
      .select(call_function("graft_argmin_centroid", col("v") +: args: _*))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_argmin_centroid") && l.trim.startsWith("*(")),
      s"graft_argmin_centroid not inside a codegen stage:\n$plan")
    // interpreted path (direct eval) agrees with the codegen'd result
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val e = CentroidArgmin(
      Literal.create(Array(0.3, 0.9), ArrayType(DoubleType)),
      ids = Array(2, 7), flat = Array(0.0, 0.0, 1.0, 1.0),
      ds = 2, off = 0, expectDim = 2, mode = CentroidArgmin.ModePair)
    val pair = e.eval().asInstanceOf[
      org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    // nearest of [(0,0) id 2, (1,1) id 7] to (0.3, 0.9): d2=0.9 vs 0.5
    assert(math.abs(pair(0) - 0.5) < 1e-15 && pair(1) == 7.0,
      pair.toSeq.toString)
  }

  test("graft_argmin_centroid: top2/own modes match a driver-side " +
    "reference, tie slots, sized own-id error, codegen + interpreted " +
    "agreement") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val dim = 16
    val rng = new scala.util.Random(13)
    val cents = (0 until 7).map(c => (c * 2,
      Seq.fill(dim)(rng.nextDouble() * 2 - 1)))
    val flat = cents.flatMap(_._2).toArray
    val ids = cents.map(_._1).toArray
    val rows = (0 until 50).map(i =>
      (i.toLong, (i % 7) * 2, Seq.fill(dim)(rng.nextDouble() * 2 - 1)))
    val df = rows.toDF("i", "cl", "v")
    val got = df.select(col("i"),
        call_function("graft_argmin_centroid", col("v"), typedlit(flat),
          typedlit(ids), lit(0), lit(dim), lit(dim), lit("top2")).as("t2"),
        call_function("graft_argmin_centroid",
          concat(array(col("cl").cast("double")), col("v")),
          typedlit(flat), typedlit(ids), lit(1), lit(dim), lit(dim + 1),
          lit("own")).as("own"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Double](1), r.getDouble(2))))
      .toMap
    def d2(x: Seq[Double], c: Seq[Double]): Double = {
      var d = 0.0
      for (j <- x.indices) { val t = x(j) - c(j); d += t * t }
      d
    }
    for ((i, cl, x) <- rows) {
      val ds = cents.map { case (cid, cv) => (d2(x, cv), cid) }
      val sortedD = ds.sortBy(p => (p._1, p._2))
      val (t2, own) = got(i)
      assert(math.abs(t2(0) - sortedD(0)._1) < 1e-12 &&
        t2(1) == sortedD(0)._2.toDouble &&
        math.abs(t2(2) - sortedD(1)._1) < 1e-12 &&
        t2(3) == sortedD(1)._2.toDouble,
        s"row $i top2 ${t2.toSeq} vs ${sortedD.take(2)}")
      val expOwn = d2(x, cents.find(_._1 == cl).get._2)
      assert(math.abs(own - expOwn) < 1e-12, s"row $i own $own vs $expOwn")
    }
    // tied pair: identical centroids -> best = lower id, second = the
    // OTHER tied id, equal distances (strict-< scan order)
    val tied = Seq(Seq(1.0, 1.0)).toDF("v")
      .select(call_function("graft_argmin_centroid", col("v"),
        typedlit(Array(2.0, 2.0, 2.0, 2.0)), typedlit(Array(3, 8)),
        lit(0), lit(2), lit(2), lit("top2")))
      .collect()(0).getSeq[Double](0)
    assert(tied == Seq(2.0, 3.0, 2.0, 8.0), tied.toString)
    // own mode: an id absent from the table is corrupt data, sized error
    val ownErr = intercept[Exception] {
      Seq((99, Seq(1.0, 1.0))).toDF("cl", "v")
        .select(call_function("graft_argmin_centroid",
          concat(array(col("cl").cast("double")), col("v")),
          typedlit(Array(0.0, 0.0)), typedlit(Array(0)), lit(1), lit(2),
          lit(3), lit("own")))
        .collect()
    }
    assert(ownErr.getMessage.contains("has no centroid"), ownErr.getMessage)
    // both new modes stay inside whole-stage codegen (range source: a
    // local relation would constant-fold to a LocalTableScan)
    val plan = spark.range(4)
      .select(array(col("id").cast("double"), col("id").cast("double"))
          .as("v"),
        pmod(col("id"), lit(2)).cast("int").as("cl"))
      .select(call_function("graft_argmin_centroid", col("v"),
          typedlit(Array(0.0, 0.0, 1.0, 1.0)), typedlit(Array(0, 1)),
          lit(0), lit(2), lit(2), lit("top2")),
        call_function("graft_argmin_centroid",
          concat(array(col("cl").cast("double")), col("v")),
          typedlit(Array(0.0, 0.0, 1.0, 1.0)), typedlit(Array(0, 1)),
          lit(1), lit(2), lit(3), lit("own")))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_argmin_centroid") && l.trim.startsWith("*(")),
      s"top2/own not inside a codegen stage:\n$plan")
    // interpreted eval (no codegen) agrees with the generated path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val t2i = CentroidArgmin(
      Literal.create(Array(0.3, 0.9), ArrayType(DoubleType)),
      ids = Array(2, 7), flat = Array(0.0, 0.0, 1.0, 1.0),
      ds = 2, off = 0, expectDim = 2, mode = CentroidArgmin.ModeTop2)
      .eval().asInstanceOf[
        org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    // d2 to (0,0)=0.9, to (1,1)=0.5: best (0.5, 7), second (0.9, 2)
    assert(math.abs(t2i(0) - 0.5) < 1e-15 && t2i(1) == 7.0 &&
      math.abs(t2i(2) - 0.9) < 1e-15 && t2i(3) == 2.0, t2i.toSeq.toString)
    val owni = CentroidArgmin(
      Literal.create(Array(2.0, 0.3, 0.9), ArrayType(DoubleType)),
      ids = Array(2, 7), flat = Array(0.0, 0.0, 1.0, 1.0),
      ds = 2, off = 1, expectDim = 3, mode = CentroidArgmin.ModeOwn)
      .eval().asInstanceOf[Double]
    assert(math.abs(owni - 0.9) < 1e-15, owni.toString)
  }
}
