package graft.ebw

import graft.GraftSparkSuite

/** The large-k sparse-Gram accumulator: the open-addressing table against
 * a reference map, the key-sorted partials and their linear merge, and
 * the sparse aggregation pass built on them against the dense triangle. */
class GramTableSpec extends GraftSparkSuite {

  private def assertAscending(keys: Array[Long]): Unit =
    for (p <- 1 until keys.length)
      assert(keys(p - 1) < keys(p), s"keys not strictly ascending at $p")

  private def assertSame(g: SortedGram, ref: collection.Map[Long, Double]): Unit = {
    assertAscending(g.keys)
    assert(g.keys.length == g.vals.length)
    assert(g.keys.toSeq == ref.keys.toSeq.sorted)
    g.keys.indices.foreach(p => assert(g.vals(p) == ref(g.keys(p)), s"key ${g.keys(p)}"))
  }

  test("forced collisions and repeated growth match a reference HashMap") {
    // the table starts at InitialCapacity slots and doubles once it is
    // more than half full
    val table = new GramTable()
    val ref = scala.collection.mutable.HashMap.empty[Long, Double]
    def add(key: Long, v: Double): Unit = {
      table.add(key, v)
      ref(key) = ref.getOrElse(key, 0.0) + v
    }
    // seven keys whose home slot is the LAST one, so their probe runs
    // collide and wrap around to slot 0
    val cap = GramTable.InitialCapacity
    val shift0 = 64 - Integer.numberOfTrailingZeros(cap)
    val colliding = Iterator.from(0).map(_.toLong)
      .filter(key => GramTable.slot(key, shift0) == cap - 1).take(7).toArray
    colliding.zipWithIndex.foreach { case (key, i) => add(key, i + 0.5) }
    colliding.reverse.foreach(key => add(key, 0.25))
    assert(table.size == 7)
    assertSame(table.sorted(), ref)
    // 5,000 random keys (repeats included) force four doublings; the
    // colliding keys are re-added across them
    val rng = new scala.util.Random(11)
    for (step <- 0 until 5000) {
      add(rng.nextInt(20000).toLong * 1000003L, rng.nextDouble() - 0.5)
      if (step % 700 == 0) colliding.foreach(add(_, 1.0))
    }
    assert(ref.size > 8 * cap / 2)
    assert(table.size == ref.size)
    assertSame(table.sorted(), ref)
  }

  test("addRow: dense rows skip zeros, sparse rows keep listed entries") {
    val k = 5
    val table = new GramTable()
    table.addRow(0L, k, null, Array(2.0, 0.0, 1.0, 0.0, 0.0), 0.5)
    table.addRow(100L, k, Array(1, 3), Array(0.0, 3.0), 2.0)
    table.addRow(0L, k, null, Array(1.0, 1.0, 1.0, 1.0, 1.0), 0.0)
    val g = table.sorted()
    assert(g.keys.toSeq == Seq(0L, 2L, 12L, 106L, 108L, 118L))
    assert(g.vals.toSeq == Seq(2.0, 1.0, 0.5, 0.0, 0.0, 18.0))
  }

  test("linear merge: overlapping, disjoint and empty partials") {
    val a = SortedGram(Array(1L, 4L, 9L), Array(1.0, 2.0, 3.0))
    val b = SortedGram(Array(0L, 4L, 10L, 12L), Array(0.5, 0.25, 4.0, 5.0))
    val ab = a.merge(b)
    assert(ab.keys.toSeq == Seq(0L, 1L, 4L, 9L, 10L, 12L))
    assert(ab.vals.toSeq == Seq(0.5, 1.0, 2.25, 3.0, 4.0, 5.0))
    assert(b.merge(a).keys.toSeq == ab.keys.toSeq)
    val c = SortedGram(Array(20L, 30L), Array(7.0, 8.0))
    val ac = a.merge(c)
    assert(ac.keys.toSeq == Seq(1L, 4L, 9L, 20L, 30L))
    assert(ac.vals.toSeq == Seq(1.0, 2.0, 3.0, 7.0, 8.0))
    assert(c.merge(a).vals.toSeq == ac.vals.toSeq)
    val empty = new GramTable().sorted()
    assert(empty.size == 0)
    assert(a.merge(empty) eq a)
    assert(empty.merge(a) eq a)
    assert(empty.merge(empty).size == 0)
    // merge keeps its inputs intact
    assert(a.keys.toSeq == Seq(1L, 4L, 9L) && a.vals.toSeq == Seq(1.0, 2.0, 3.0))
    // slices re-base one group's contiguous key run
    val s = ab.slice(4L, 10L)
    assert(s.keys.toSeq == Seq(0L, 5L) && s.vals.toSeq == Seq(2.25, 3.0))
    assert(ab.slice(13L, 20L).size == 0)
  }

  test("GramSum: disjoint and overlapping partials in any order match a reference sum") {
    val rng = new scala.util.Random(5)
    def partial(keys: Seq[Long]): SortedGram = {
      val ks = keys.distinct.sorted.toArray
      SortedGram(ks, ks.map(_ => rng.nextInt(100) - 50.0))
    }
    val disjoint = (0 until 37).map(p => partial((0 until 1 + p % 5 * 40).map(i => i * 37L + p)))
    val overlapping = (0 until 37).map(_ => partial(Seq.fill(60)(rng.nextInt(80).toLong)))
    val mixed = disjoint.zip(overlapping).flatMap { case (a, b) => Seq(a, b) }
    for (parts <- Seq(disjoint, overlapping, mixed, Seq.empty[SortedGram])) {
      val ref = scala.collection.mutable.HashMap.empty[Long, Double]
      for (g <- parts; p <- 0 until g.size) ref(g.keys(p)) = ref.getOrElse(g.keys(p), 0.0) + g.vals(p)
      // one running sum, and two halves summed apart then combined (the
      // tree's executor-side levels)
      val one = new GramSum()
      parts.foreach(one.add)
      val (l, r) = parts.splitAt(parts.size / 3)
      val left = new GramSum()
      l.foreach(left.add)
      val right = new GramSum()
      r.foreach(right.add)
      assertSame(one.result, ref)
      assertSame(left.addAll(right).result, ref)
    }
  }

  // one cached pattern per reduction (direct, keyed tree at depth 2 and
  // 3), each pass at two thetas against the dense triangle
  test("pattern pass over mostly-empty partitions matches the dense triangle") {
    val k = 6
    val rows = Seq(
      // a dense row with zeros, a sparse row with an explicit zero
      EbwRow(null, Array(1.0, 0.0, 2.0, 0.0, 0.5, 1.0), 1.5),
      EbwRow(Array(0, 3, 5), Array(1.0, 0.0, -1.0), 0.75),
      EbwRow(Array(1, 2), Array(0.5, 1.0), 2.0))
    // 3 rows in 8 partitions: at least 5 partials are empty
    val rdd = spark.sparkContext.parallelize(rows, 8)
    val thetas = Seq(Array(0.1, -0.2, 0.05, 0.0, 0.3, -0.1),
      Array(0.4, 0.3, -0.2, 0.1, 0.6, 0.2))
    val clip = Link(1.3, 0.7, 1.4)
    // at the second theta the clip link clips the dense row (slope 0):
    // its structural keys stay in the pattern and receive nothing
    assert(clip.rAndSlope(0.5)._2 == 0.0 &&
      (0 until k).map(j => rows.head.vals(j) * thetas(1)(j)).sum > 0.49)
    for ((depth, direct) <- Seq((2, true), (2, false), (3, false))) {
      val pat = EbwAggregator.sparsePattern(rdd, k, depth, direct)
      try for (theta <- thetas; link <- Seq(Link.exp, clip,
          Link(-1.0, 0.0, Double.PositiveInfinity))) {
        val what = s"link $link depth $depth direct $direct theta ${theta.toSeq}"
        val dense = EbwAggregator.run(rdd, k, Array(theta), Array(link))(0)
        val sp = EbwAggregator.runPattern(pat, k, Array(theta), Array(link))(0)
        assert(sp.count == 3)
        assert(math.abs(sp.fval - dense.fval) < 1e-12, what)
        assert(math.abs(sp.wrsum - dense.wrsum) < 1e-12, what)
        for (i <- 0 until k) assert(math.abs(sp.s(i) - dense.s(i)) < 1e-12, s"s $i $what")
        assertAscending(sp.gramKeys)
        val got = sp.gramKeys.zip(sp.gramVals).toMap
        for (i <- 0 until k; j <- i until k) {
          val v = got.getOrElse(i.toLong * k + j, 0.0)
          assert(math.abs(v - dense.gram(EbwAggregator.pidx(k, i, j))) < 1e-12,
            s"gram ($i,$j) $what")
        }
        // every stored key is a real upper-triangle cell, and the pattern
        // is structural: the same keys at every theta and link
        assert(sp.gramKeys.forall(key => key % k >= key / k))
        assert(sp.gramKeys.length == 15, s"${sp.gramKeys.toSeq} $what")
      } finally pat.release()
      assert(!spark.sparkContext.getPersistentRDDs.contains(pat.blocks.id))
    }
  }

  // sizing budgets every key the pattern builds: a dense row's nonzeros,
  // every listed entry of a sparse row (zeros included)
  test("validate's sumPairs counts the compiled blocks' slots: dense rows " +
    "with zeros, sparse rows listing zeros") {
    val k = 8
    val rows = Seq(
      EbwRow(null, Array(1.0, 0.0, 2.0, 0.0, 0.0, 0.5, 0.0, 1.0), 1.5),
      EbwRow(Array(0, 3, 5, 6), Array(1.0, 0.0, 0.0, -1.0), 0.75),
      EbwRow(Array(1, 2, 4, 7), Array(0.0, 0.0, 0.0, 0.0), 2.0),
      EbwRow(null, Array.fill(k)(0.0), 1.0),
      EbwRow(Array.emptyIntArray, Array.emptyDoubleArray, 1.0),
      EbwRow(Array(2, 7), Array(0.5, 1.0), 2.0))
    val rdd = spark.sparkContext.parallelize(rows, 3)
    val (bad, _, n, sumPairs) = EbwAggregator.validate(rdd, k, 1)
    assert(bad == 0 && n == rows.length)
    val slots = rdd.mapPartitions(it =>
      Iterator(EbwAggregator.compileBlock(it, k).slots.length.toLong)).sum().toLong
    // dense 4 nonzeros: 10; sparse 4 listed: 10 + 10; dense zeros: 0;
    // empty: 0; sparse 2 listed: 3
    assert(slots == 33)
    assert(sumPairs == slots, s"sumPairs $sumPairs, compiled slots $slots")
  }

  test("a sparse-driver solve on the direct reduction repeats bit for bit") {
    import org.apache.spark.ml.linalg.Vectors
    // two one-hot blocks of 300 cells (k = 600 > denseGramMax) with
    // fractional base weights, in 5 partitions on local[4]: 5 is the
    // most partitions a depth-2 tree leaves unmerged, so the passes take
    // the direct reduction and the validation sums run in partition
    // order too
    val rng = new scala.util.Random(23)
    val k = 600
    val rows = Seq.fill(6000) {
      val a = rng.nextInt(300)
      val b = 300 + rng.nextInt(300)
      (Vectors.sparse(k, Array(a, b), Array(1.0, 1.0)), 0.5 + rng.nextDouble())
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 5))
      .toDF("feat", "w0")
    assert(EbwSizing.finalParts(5, 2) == 5)
    val m = Array.tabulate(k)(j => (if (j % 2 == 0) 1.05 else 0.95) / 300)
    val runs = Seq.fill(3)(EntropyBalance.entropyBalance(df, "feat", "w0", m))
    assert(runs.forall(_.converged), runs.map(_.errorMessage))
    def bits(r: EbwResult) = r.equalityMultipliers.map(java.lang.Double.doubleToLongBits)
    for (r <- runs.tail) {
      assert(r.nIterations == runs.head.nIterations)
      val differ = bits(r).zip(bits(runs.head)).count { case (a, b) => a != b }
      assert(differ == 0, s"$differ of $k multipliers differ between solves")
    }
  }
}
