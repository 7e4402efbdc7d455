package graft.ops

import graft.GraftSparkSuite
import org.apache.spark.sql.functions._

class OpsSpec extends GraftSparkSuite {

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("exact dedup collapses duplicates") {
    val dup = docs.unionAll(docs.withColumn("doc_id", col("doc_id") + 100000))
    val out = Dedup.exact(dup, "text", "doc_id")
    assert(out.count() == docs.count()) // every text collapses to one group
    val copies = out.agg(min("n_copies"), max("n_copies")).collect()(0)
    assert(copies.getLong(0) == 2 && copies.getLong(1) == 2)
    // survivor is always the lower id (the original)
    assert(out.filter(col("keep_id") >= 100000).count() == 0)
  }

  test("minhash LSH finds near-duplicate pairs") {
    import spark.implicits._
    val base = docs.limit(20).select("doc_id", "text")
    // near-dup: same text with a few words appended
    val near = base.select((col("doc_id") + 1000).as("doc_id"),
      concat(col("text"), lit(" extra trailing words")).as("text"))
    val corpus = base.unionAll(near)
    val pairs = Dedup.minhashCandidatePairs(corpus, "text", "doc_id").collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    // every (id, id+1000) near-dup pair should share at least one band
    val expected = (0 until 20).map(i => base.collect()(i).getLong(0)).map(id => (id, id + 1000))
    val hits = expected.count(found.contains)
    assert(hits >= 15, s"found only $hits/20 near-dup pairs: $found")
  }

  test("dedupReport: per-source fates match the planted thirds and the " +
    "curation drop rules") {
    import spark.implicits._
    // disjoint per-doc vocabulary: no NATURAL cross-doc near-dups (the
    // real corpus has planted ones, which would rightly inflate
    // near_dup counts beyond the planted thirds)
    val orig = (0 until 30).map { i =>
      (i.toLong, (0 until 12).map(j => s"w${i}x$j").mkString(" "),
        s"s${i % 3}")
    }.toDF("doc_id", "text", "source")
    val exactDups = orig.select((col("doc_id") + 1000L).as("doc_id"),
      col("text"), col("source"))
    val nearDups = orig.select((col("doc_id") + 2000L).as("doc_id"),
      concat(col("text"), lit(" tail tokens appended here")).as("text"),
      col("source"))
    val rep = Dedup.dedupReport(
      orig.unionByName(exactDups).unionByName(nearDups),
      "text", "doc_id", "source")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    val perSource = orig.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep.keySet == perSource.keySet)
    perSource.foreach { case (src, n) =>
      val (nd, ne, nn, nk, pct) = rep(src)
      assert(nd == 3 * n, s"$src n_docs: $nd vs ${3 * n}")
      assert(ne == n, s"$src exact dups: $ne vs $n")
      assert(nn == n, s"$src near dups must be the +2000 copies: $nn")
      assert(nk == n, s"$src kept: $nk")
      assert(pct == BigDecimal(n * 1.0 / (3 * n))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    Dedup.unpersistAll(spark)
  }

  test("simhash banding finds near-dup pairs without all-pairs compare") {
    val base = docs.limit(30).select("doc_id", "text")
    val near = base.select((col("doc_id") + 5000).as("doc_id"),
      concat(col("text"), lit(" tiny tail")).as("text"))
    val pairs = Dedup.simhashCandidatePairs(base.unionAll(near), "text", "doc_id",
        maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val planted = pairs.filter { case (a2, b2, _) => b2 - a2 == 5000 }
    assert(planted.length >= 25, s"found ${planted.length}/30 planted near-dups")
    assert(pairs.forall(_._3 <= 12)) // every reported pair verified exactly
  }

  test("simhash multi-block pigeonhole (blocksPerKey > 1): verified " +
    "pair set IDENTICAL to single-block for d=2 and d=3 (exact recall), " +
    "guard on block budget") {
    // pigeonhole at any d: <= h differing bits touch <= h of the h+d
    // blocks, so some d untouched blocks agree — candidates differ,
    // the verified output cannot
    val corpus = docs.limit(400).select("doc_id", "text")
    def pairSet(d: Int): Set[(Long, Long, Long)] =
      Dedup.simhashCandidatePairs(corpus, "text", "doc_id",
          maxHamming = 8, blocksPerKey = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val d1 = pairSet(1)
    assert(d1.nonEmpty, "fixture must produce near-dup pairs")
    assert(pairSet(2) == d1, "d=2 changed the verified pair set")
    assert(pairSet(3) == d1, "d=3 changed the verified pair set")
    intercept[IllegalArgumentException](
      Dedup.simhashCandidatePairs(corpus, "text", "doc_id",
        maxHamming = 62, blocksPerKey = 3))
  }

  test("simhash portable multi-block keys (the oracle-gate mode): " +
    "d=2 verified pair set identical to portable d=1") {
    // the md5 composite-key scheme must preserve exact pigeonhole
    // recall exactly like the xxhash64 scheme — the
    // dedup_simhash_pairs_mb gate relies on this parity
    val corpus = docs.limit(400).select("doc_id", "text")
    def pairSet(d: Int): Set[(Long, Long, Long)] =
      Dedup.simhashCandidatePairs(corpus, "text", "doc_id",
          maxHamming = 8, portable = true, blocksPerKey = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val d1 = pairSet(1)
    assert(d1.nonEmpty, "fixture must produce near-dup pairs")
    assert(pairSet(2) == d1, "portable d=2 changed the verified pair set")
  }

  test("simhashAutoBlocks routing: small corpora keep d=1 plans, " +
    "large ones switch to d=2; auto call output == explicit d=1") {
    // the measured h=8 crossover (~240k docs, PairScaling r17)
    assert(Dedup.simhashAutoBlocks(1000L, 8) == 1)
    assert(Dedup.simhashAutoBlocks(239999L, 8) == 1)
    assert(Dedup.simhashAutoBlocks(240000L, 8) == 2)
    assert(Dedup.simhashAutoBlocks(640000L, 8) == 2)
    // wider keys (smaller h) push the knee out; narrower pull it in
    assert(Dedup.simhashAutoBlocks(300000L, 3) == 1)
    assert(Dedup.simhashAutoBlocks(200000L, 15) == 2)
    // auto on a small corpus: identical output to the explicit d=1 call
    // AND the identical d=1 plan (no multi-block key explosion: the
    // exploded key array is h+1 bands, not C(h+d, d) combos)
    val corpus = docs.limit(200).select("doc_id", "text")
    val auto = Dedup.simhashCandidatePairs(corpus, "text", "doc_id",
      maxHamming = 8, blocksPerKey = 0)
    val explicit1 = Dedup.simhashCandidatePairs(corpus, "text", "doc_id",
      maxHamming = 8, blocksPerKey = 1)
    assert(auto.collect().toSet == explicit1.collect().toSet)
    // canonicalized-plan identity modulo the capBuckets observe()
    // instance counter (each call mints a fresh metrics name) — the
    // assertion is "auto built the d=1 plan", not "similar output"
    def shape(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.canonicalized.toString
        .replaceAll("graft_cap/simhashCandidatePairs/\\d+",
          "graft_cap/simhashCandidatePairs/N")
    assert(shape(auto) == shape(explicit1),
      "auto route on a small corpus must build the d=1 plan itself")
  }

  test("simhash: identical docs get identical fingerprints, near-dups close") {
    val a = Dedup.simhash(docs.limit(10), "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.simhash(docs.limit(10), "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b) // deterministic
    val nearDf = docs.limit(10)
      .withColumn("text", concat(col("text"), lit(" tail")))
    val near = Dedup.simhash(nearDf, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dists = a.keys.map { id =>
      java.lang.Long.bitCount(a(id) ^ near(id))
    }
    assert(dists.forall(_ <= 16), s"near-dup hamming distances too large: $dists")
  }

  test("LSH top-k cosines agree with brute force on shared ids") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).collect()(0).getSeq[Double](0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val brute = Similarity.bruteForceTopK(rest, "embedding", "vec_id", q, 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = Similarity.lshTopK(rest, "embedding", "vec_id", q, 10, bits = 3)
      .collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val id = r.getLong(0)
      assert(math.abs(brute(id) - r.getDouble(1)) < 1e-12)
    }
  }

  test("multi-probe LSH: exact cosines, recall at least single-bucket's") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).collect()(0).getSeq[Double](0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val brute = Similarity.bruteForceTopK(rest, "embedding", "vec_id", q, 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val trueTop = Similarity.bruteForceTopK(rest, "embedding", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSet
    def recall(ids: Set[Long]): Double =
      (ids & trueTop).size.toDouble / trueTop.size
    val single = Similarity.lshTopK(rest, "embedding", "vec_id", q, 10, bits = 4)
      .collect().map(_.getLong(0)).toSet
    val multi = Similarity.lshTopKMultiProbe(rest, "embedding", "vec_id", q,
      10, bits = 4, nProbe = 6).collect()
    assert(multi.nonEmpty)
    // every returned cosine is the true cosine (probing only restricts
    // the candidate set, never distorts scores)
    multi.foreach(r => assert(math.abs(brute(r.getLong(0)) - r.getDouble(1)) < 1e-12))
    assert(recall(multi.map(_.getLong(0)).toSet) >= recall(single),
      s"multi-probe recall below single-bucket")
    // nProbe = 1 degenerates exactly to the single-bucket probe
    val one = Similarity.lshTopKMultiProbe(rest, "embedding", "vec_id", q,
      10, bits = 4, nProbe = 1).collect().map(_.getLong(0)).toSet
    assert(one == single)
    // multi-bit perturbations honor any nProbe: probing all 2^bits
    // buckets recovers the exact brute-force top-10
    val full = Similarity.lshTopKMultiProbe(rest, "embedding", "vec_id", q,
      10, bits = 4, nProbe = 16).collect().map(_.getLong(0)).toSet
    assert(full == trueTop, s"full probe $full vs $trueTop")
    // the perturbation sequence itself: distinct masks, exact count
    val masks = Similarity.probeMasks(Array(0.9, 0.1, 0.5, 0.3), 16)
    assert(masks.length == 16 && masks.distinct.length == 16 && masks.head == 0)
    assert(masks.toSet == (0 until 16).toSet)
    // ascending total-margin order for the first few perturbations:
    // flip b1 (0.1) < flip b3 (0.3) < flips b1+b3 (0.4) < flip b2 (0.5)
    assert(masks(1) == 2 && masks(2) == 8 && masks(3) == 10 && masks(4) == 4)
  }

  test("batch top-k equals per-query brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") >= 5)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val batch = Similarity.batchTopK(corpus, "embedding", "vec_id",
      queries, "qid", "qvec", k = 7).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getLong(3)).map(_.getLong(1)).toSeq }
    val qvecs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    for ((qid, qv) <- qvecs) {
      val solo = Similarity.bruteForceTopK(corpus, "embedding", "vec_id", qv, 7)
        .collect().map(_.getLong(0)).toSeq
      assert(batch(qid) == solo, s"query $qid: ${batch(qid)} vs $solo")
    }
  }

  test("IVF top-k cosines agree with brute force; probing fewer cells is a subset") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).collect()(0).getSeq[Double](0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val brute = Similarity.bruteForceTopK(rest, "embedding", "vec_id", q, 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = Similarity.ivfTopK(rest, "embedding", "vec_id", q, 10,
      nlist = 8, nprobe = 3).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      assert(math.abs(brute(r.getLong(0)) - r.getDouble(1)) < 1e-12)
    }
    // full probe (nprobe = nlist) must recover the exact brute-force top-10
    val full = Similarity.ivfTopK(rest, "embedding", "vec_id", q, 10,
      nlist = 8, nprobe = 8).collect().map(_.getLong(0)).toSeq
    val bruteTop = Similarity.bruteForceTopK(rest, "embedding", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(full == bruteTop)
  }

  test("IVF index persists partitioned by cell and prunes the scan on reload") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).collect()(0).getSeq[Double](0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val index = Similarity.fitIvfIndex(rest, "embedding", "vec_id", nlist = 8)
    val tmp = graft.ops.Scratch.dir("ivfidx")
    Similarity.saveIvfIndex(index, tmp)
    val loaded = Similarity.loadIvfIndex(spark, tmp)
    assert(loaded.idCol == "vec_id")
    assert(loaded.centers.map(_.toSeq).toSeq == index.centers.map(_.toSeq).toSeq)
    val a = index.query(q, 10, 3).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = loaded.query(q, 10, 3).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.toSeq == b.toSeq)
    // the cell restriction must reach the scan as a PARTITION filter
    // (only nprobe/nlist of the corpus is read from disk)
    val plan = loaded.query(q, 10, 3).queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*cell".r.findFirstIn(plan).isDefined,
      s"no partition filter on cell in plan:\n$plan")
    index.unpersist()
  }

  test("langId returns valid labels") {
    val out = TextMetrics.langId(docs, "text", "doc_id").collect()
    val valid = Set("en", "de", "fr", "es", "und")
    assert(out.length == docs.count())
    assert(out.forall(r => valid.contains(r.getString(1))))
  }

  test("salted join equals plain join on a skewed key") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    // 90% of rows share key 0 — the canonical hot-key shape
    val big = (0 until 20000).map(i =>
      (if (rng.nextDouble() < 0.9) 0L else rng.nextInt(100).toLong, i))
      .toDF("k", "payload")
    val small = (0L until 100L).map(k => (k, s"dim$k")).toDF("k", "attr")
    val plain = big.join(small, "k")
    val salted = Skew.saltedJoin(big, small, "k", salt = 8)
    assert(salted.count() == plain.count())
    val a = plain.orderBy("k", "payload").collect().map(_.toSeq)
    val b = salted.select("k", "payload", "attr")
      .orderBy("k", "payload").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("hot-bucket cap drops degenerate buckets instead of going quadratic") {
    import spark.implicits._
    // 2000 identical docs: every band key collides into one hot bucket,
    // which uncapped would mean ~2M within-bucket pairs
    val clones = (0L until 2000L)
      .map(i => (i, "the same boilerplate text repeated everywhere"))
      .toDF("doc_id", "text")
    val mh = Dedup.minhashCandidatePairs(clones, "text", "doc_id",
      maxBucketSize = 100)
    assert(mh.count() == 0) // dropped (and logged), not 2M pairs
    val sh = Dedup.simhashCandidatePairs(clones, "text", "doc_id",
      maxBucketSize = 100)
    assert(sh.count() == 0)
    val ng = Dedup.ngramJaccardPairs(clones, "text", "doc_id", 0.5,
      maxBucketSize = 100)
    assert(ng.count() == 0)
    // the incremental variants cap the COMBINED (corpus + new) bucket: 60
    // identical docs in the persisted index plus 60 identical new docs put
    // 120 rows in every bucket, so a cap of 100 drops them all although
    // neither side alone is over it; at 200 every new doc pairs with each
    // corpus doc and each other new doc, every pair once
    val corpusIds = 0L until 60L
    val newIds = 1000000L until 1000060L
    val corpus = clones.filter(col("doc_id") < 60L)
    val fresh = newIds.map(i => (i, "the same boilerplate text repeated everywhere"))
      .toDF("doc_id", "text")
    val vec = Seq.tabulate(8)(i => 0.1 * (i + 1))
    val corpusEmb = corpusIds.map(i => (i, vec)).toDF("vec_id", "embedding")
    val freshEmb = newIds.map(i => (i, vec)).toDF("vec_id", "embedding")
    val tmp = Scratch.dir("capidx")
    Dedup.minhashBandKeys(corpus, "text", "doc_id").write.parquet(s"$tmp/mh")
    Dedup.ngramBandKeys(corpus, "text", "doc_id").write.parquet(s"$tmp/ng")
    Dedup.ngramShingles(corpus, "text", "doc_id").write.parquet(s"$tmp/sh")
    Dedup.simhash(corpus, "text", "doc_id").write.parquet(s"$tmp/fp")
    Dedup.embeddingBandKeys(corpusEmb, "embedding", "vec_id", dim = 8,
      bitsPerBand = 8).write.parquet(s"$tmp/emb")
    def index(name: String) = spark.read.parquet(s"$tmp/$name")
    def incremental(cap: Int) = Seq(
      "minhash" -> Dedup.minhashCandidatePairsIncremental(fresh, index("mh"),
        "text", "doc_id", maxBucketSize = cap),
      "ngram" -> Dedup.ngramJaccardPairsIncremental(fresh, index("ng"), index("sh"),
        "text", "doc_id", maxBucketSize = cap),
      "simhash" -> Dedup.simhashCandidatePairsIncremental(fresh, index("fp"),
        "text", "doc_id", maxBucketSize = cap),
      "embedding" -> Dedup.embeddingCosinePairsIncremental(freshEmb, index("emb"),
        "embedding", "vec_id", dim = 8, bitsPerBand = 8, maxBucketSize = cap))
    incremental(100).foreach { case (op, pairs) =>
      assert(pairs.count() == 0, s"$op: combined 120-row buckets not capped at 100")
    }
    val want = (for (n <- newIds; m <- corpusIds) yield (n, m, true)) ++
      (for (n <- newIds; m <- newIds if n < m) yield (n, m, false))
    assert(want.size == 60 * 60 + 60 * 59 / 2)
    incremental(200).foreach { case (op, pairs) =>
      val got = pairs.select("id_new", "id_match", "from_corpus").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      assert(got.size == want.size && got.toSet == want.toSet,
        s"$op: ${got.size} pairs (${got.toSet.size} distinct), want ${want.size}")
    }
    Dedup.unpersistAll(spark)
  }

  test("paragraph dedup keeps first occurrences, reassembles in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta\n\ngamma delta\n\nalpha beta"), // self-dup: 3rd para dies
      (2L, "gamma delta\n\nfresh stuff"),              // 1st para already in doc 1
      (3L, "alpha beta\n\ngamma delta"),               // fully duplicated: vanishes
      (4L, "  \n\nonly real paragraph"))               // blank paragraph ignored
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(1L) == ((2L, "alpha beta\n\ngamma delta")))
    assert(out(2L) == ((1L, "fresh stuff")))
    assert(!out.contains(3L))
    assert(out(4L) == ((1L, "only real paragraph")))
  }

  test("contamination counts benchmark n-gram overlap per document") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),   // 3 distinct 3-grams: abc bcd cde
      (2L, "c d e f g"),   // cde def efg
      (3L, "x y z w v"),   // none shared with benchmark
      (4L, "a b"))         // < n tokens: absent
      .toDF("doc_id", "text")
    val bench = Seq(Tuple1("a b c d x x c d e")).toDF("text") // grams incl abc, bcd, cde
    val out = TextMetrics.contamination(docs, "text", "doc_id", bench, "text", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // bench 3-grams: abc bcd cdx dxx xxc xcd cde
    assert(out(1L) == ((3L, 3L, 1.0)))      // abc bcd cde all present
    assert(out(2L) == ((3L, 1L, 0.333333))) // only cde
    assert(out(3L) == ((3L, 0L, 0.0)))
    assert(out.size == 3 && !out.contains(4L))
  }

  test("normalize lowercases, strips punctuation, collapses whitespace") {
    import spark.implicits._
    val df = Seq((1L, "Hello,  WORLD!!  42&x "), (2L, "---"), (3L, "ok"))
      .toDF("doc_id", "text")
    val out = TextMetrics.normalize(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("hello world 42 x", 16L)))
    assert(out(2L) == (("", 0L))) // punctuation-only collapses to empty
    assert(out(3L) == (("ok", 2L)))
  }

  test("piiScrub counts and redacts emails, IPs, and phones") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail a.b+c@x-y.co and d@e.org here"),
      (2L, "ip 10.0.0.1 end 255.1.2.3"),
      (3L, "call 555-123-4567 or 555.123.4567 or 555 123 4567"),
      (4L, "no pii at all"),
      // x10.0.0.1 has no word boundary before the first octet; 1234.1.1.1
      // has no 1-3 digit first octet ending on a boundary
      (5L, "a1b2@c3.com beside x10.0.0.1 and 1234.1.1.1"))
      .toDF("doc_id", "text")
    val out = TextMetrics.piiScrub(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    def counts(id: Long) = (out(id).getLong(1), out(id).getLong(2), out(id).getLong(3))
    assert(counts(1L) == ((2L, 0L, 0L)))
    assert(out(1L).getString(4) == "mail <EMAIL> and <EMAIL> here")
    assert(counts(2L) == ((0L, 2L, 0L)))
    assert(out(2L).getString(4) == "ip <IP> end <IP>")
    assert(counts(3L) == ((0L, 0L, 3L)))
    assert(out(3L).getString(4) == "call <PHONE> or <PHONE> or <PHONE>")
    assert(counts(4L) == ((0L, 0L, 0L)))
    assert(out(4L).getString(4) == "no pii at all")
    assert(counts(5L) == ((1L, 0L, 0L)))
    assert(out(5L).getString(4) == "<EMAIL> beside x10.0.0.1 and 1234.1.1.1")
  }

  test("stripHtml removes tags, decodes entities, preserves double-escapes") {
    import spark.implicits._
    val df = Seq(
      (1L, "<div>hello <b>world</b></div>"),
      (2L, "a &lt;b&gt; is literal &amp; stays"),
      (3L, "&amp;lt;x&amp;gt; double escape"),
      (4L, "no markup here"),
      (5L, "<a href=\"u\">link</a>text"))
      .toDF("doc_id", "text")
    val out = TextMetrics.stripHtml(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "hello world")
    // spelled-out markup stays literal text (tags strip before decode)
    assert(out(2L) == "a <b> is literal & stays")
    // double-escaped entities decode exactly one level
    assert(out(3L) == "&lt;x&gt; double escape")
    assert(out(4L) == "no markup here")
    // tag removal never fuses adjacent words
    assert(out(5L) == "link text")
  }

  test("chunk tiles documents exactly; stride==size reconstructs the text") {
    import spark.implicits._
    val df = Seq((1L, "abcdefghij"), (2L, "abc"), (3L, ""), (4L, "abcd"))
      .toDF("doc_id", "text")
    val out = TextMetrics.chunk(df, "text", "doc_id", size = 4, stride = 4)
      .orderBy("doc_id", "chunk_id").collect()
    assert(!out.exists(_.getLong(0) == 3L)) // empty doc emits no chunks
    assert(out.filter(_.getLong(0) == 1L).map(_.getString(3)).toSeq
      == Seq("abcd", "efgh", "ij")) // last chunk clamped
    assert(out.filter(_.getLong(0) == 4L).map(_.getString(3)).toSeq == Seq("abcd"))
    // chunk_start bookkeeping
    assert(out.forall(r => r.getLong(2) == r.getLong(1) * 4))
    // reconstruction over the real corpus: concatenating stride==size
    // chunks in chunk_id order restores every document byte-for-byte
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rebuilt = TextMetrics.chunk(docs, "text", "doc_id", 64, 64)
      .select("doc_id", "chunk_id", "chunk_text").collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.sortBy(_.getLong(1)).map(_.getString(2)).mkString }
    assert(rebuilt.size == texts.size)
    assert(rebuilt.forall { case (id, s) => texts(id) == s })
  }

  test("chunk overlap: stride < size covers every position, counts match") {
    val out = TextMetrics.chunk(docs, "text", "doc_id", size = 64, stride = 32)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        max(col("chunk_start") + col("n_chunk_chars")).as("covered"),
        min("n_chunk_chars").as("min_len"))
      .join(docs.select(col("doc_id"), length(col("text")).cast("long").as("len")),
        "doc_id")
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, covered, minLen, len) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n == (len - 1) / 32 + 1, s"chunk count off for len=$len")
      assert(covered == len, s"coverage gap: covered=$covered len=$len")
      assert(minLen >= 1)
    }
  }

  test("packBins: known bins on a handcrafted shard, invariants on the corpus") {
    import spark.implicits._
    // one shard, budget 10: token counts 4,4,4,9 -> starts 0,4,8,12 ->
    // bins 0,0,0,1 with offsets 0,4,8,2
    val df = Seq(
      (1L, "a b c d"), (2L, "e f g h"), (3L, "i j k l"),
      (4L, "m n o p q r s t u"))
      .toDF("doc_id", "text").withColumn("shard", lit(0))
    val out = TextMetrics.packBins(df, "text", "doc_id", budget = 10,
        shardCol = "shard")
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(4)).toSeq == Seq(0L, 0L, 0L, 1L))
    assert(out.map(_.getLong(5)).toSeq == Seq(0L, 4L, 8L, 2L))
    // corpus invariants per shard: cum is the running sum in id order,
    // offsets stay inside the budget, bins never decrease
    val rows = TextMetrics.packBins(
        docs.withColumn("shard", col("doc_id") % 4), "text", "doc_id",
        budget = 100, shardCol = "shard")
      .collect().groupBy(_.getLong(1))
    assert(rows.size == 4)
    rows.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(0))
      var run = 0L
      var lastBin = 0L
      sorted.foreach { r =>
        val (tok, cum, bin, off) =
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
        run += tok
        assert(cum == run, "cum_tokens is not the running sum")
        assert(off >= 0 && off < 100, s"offset $off outside budget")
        assert(bin >= lastBin, "bins must be non-decreasing in id order")
        assert(bin == (cum - tok) / 100, "bin is not the start-token bin")
        lastBin = bin
      }
    }
  }

  test("tokenFertility: hand-computed per-language tokens/words/bytes, " +
    "multi-byte text counts bytes not chars, null lang/text dropped") {
    import spark.implicits._
    // 'zz zz' has no table merges: each 2-char word encodes to 2 BPE
    // symbols -> 4 tokens over 2 words = fertility 2.0; ASCII so
    // bytes == chars = 5 -> bytes/token = 1.25
    // 'héé' (lang fr): 3 chars, 5 UTF-8 bytes, 1 word, 3 BPE symbols
    // (no merges) -> fertility 3.0, bytes/token 1.6667, chars/token 1.0
    val rows = Seq(
      (1L, Some("en"), Some("zz zz")),
      (2L, Some("fr"), Some("héé")),
      (3L, None: Option[String], Some("dropped")),
      (4L, Some("xx"), None: Option[String]))
    val got = graft.ops.TextMetrics.tokenFertility(
        rows.toDF("doc_id", "lang", "text"), "text", "doc_id", "lang")
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7),
        r.getDouble(8)))
    assert(got.length == 2, got.mkString("; "))
    assert(got(0) == (("en", 1L, 2L, 4L, 5L, 5L, 2.0, 1.25, 1.25)),
      s"${got(0)}")
    assert(got(1)._1 == "fr" && got(1)._3 == 1L && got(1)._4 == 3L &&
      got(1)._5 == 3L && got(1)._6 == 5L &&
      math.abs(got(1)._7 - 3.0) < 1e-9 &&
      math.abs(got(1)._8 - 1.6667) < 1e-9 &&
      math.abs(got(1)._9 - 1.0) < 1e-9, s"${got(1)}")
  }

  test("encodingAudit: each damage class flags its own docs once, " +
    "clean corpus reads 100% clean, tab/newline are NOT control hits") {
    import spark.implicits._
    val rows = Seq(
      (1L, "clean text with\ttab and\nnewline"),
      (2L, "decoder gave up � here"),
      (3L, "bell \u0007 rang"),
      (4L, "zero\u200Bwidth"),
      (5L, "itâ€™s mojibake"), // literal 'â€™'
      (6L, "latin-1 read: Ã©"))     // 'Ã©' — the Ã signature
    val r = graft.ops.TextMetrics.encodingAudit(
        rows.toDF("doc_id", "text"), "text", "doc_id")
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((6L, 1L, 1L, 1L, 2L)), s"$r")
    assert(math.abs(r.getDouble(5) - 0.1667) < 1e-9, s"pct_clean: $r")
    val clean = graft.ops.TextMetrics.encodingAudit(
        Seq((1L, "all good"), (2L, "fine")).toDF("doc_id", "text"),
        "text", "doc_id")
      .collect().head
    assert(clean.getDouble(5) == 1.0, s"$clean")
  }

  test("bpeTokenCounts: closed-form merges, overlap chaining, word boundaries") {
    import spark.implicits._
    val d = Seq(
      (1L, "the cat"),            // the→1 ; cat→ c,at = 2
      (2L, "interesting"),        // in,t,er,est,ing = 5
      (3L, "thethethe aaaa"),     // the×3 = 3 ; a×4 = 4 (no (a,a) merge)
      (4L, "weather for"),        // w,ea,the,r = 4 ; for = 1
      (5L, ""),                   // no words at all
      (6L, "x  \t y\nz")          // whitespace-class split: x,y,z = 3 chars
    ).toDF("doc_id", "text")
    val out = TextMetrics.bpeTokenCounts(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 3L, 6.0 / 3)))   // 6 word chars / 3 tokens
    assert(out(2L) == ((1L, 5L, 11.0 / 5)))
    assert(out(3L) == ((2L, 7L, 13.0 / 7 match {
      case x => BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble })))
    assert(out(4L)._2 == 5L)
    assert(out(5L) == ((0L, 0L, 0.0)))       // greatest(.,1) guards the ratio
    assert(out(6L)._1 == 3L && out(6L)._2 == 3L)
  }

  test("bpeByteTokenCount: textbook byte-BPE on multi-byte UTF-8 — " +
    "one symbol per BYTE, byte merges compose, ASCII parity with the " +
    "char-level fold") {
    import spark.implicits._
    def count(text: String, merges: Seq[(String, String)]): Long =
      Seq(text).toDF("t")
        .select(TextMetrics.bpeByteTokenCount(col("t"), merges).as("n"))
        .collect().head.getLong(0)
    // base alphabet: no merges -> token count == UTF-8 BYTE count
    assert(count("cat", Nil) == 3L)
    assert(count("café", Nil) == 5L)      // é is C3 A9: 2 bytes
    assert(count("—", Nil) == 3L)         // em dash E2 80 94: 3 bytes
    assert(count("naïve", Nil) == 6L)     // ï is C3 AF: 2 bytes
    // textbook merge composition over byte symbols: é's bytes map to
    // "Ã","©" (GPT-2 table: both printable-latin, self-mapped) and one
    // merge fuses them; the em dash needs the chained pair
    // ("â","Ģ") then ("âĢ","Ķ") — exactly GPT-2's 'âĢĶ' token
    assert(count("café", Seq("Ã" -> "©")) == 4L)
    assert(count("—", Seq("â" -> "Ģ")) == 2L)
    assert(count("—", Seq("â" -> "Ģ", "âĢ" -> "Ķ")) == 1L)
    // under the embedded byte table the suffix words resolve: café ->
    // c,a,f,Ã© (no c/a/f merges in the table) and — -> âĢĶ
    assert(count("café", TextMetrics.bpeByteMerges) == 4L)
    assert(count("—", TextMetrics.bpeByteMerges) == 1L)
    // ASCII parity: bytes == chars and bpeByteMerges extends bpeMerges
    // only with non-ASCII pairs, so the two folds agree on ASCII text
    val ascii = Seq((1L, "the cat"), (2L, "interesting"),
      (3L, "weather for the win")).toDF("doc_id", "text")
    val both = ascii.select(
      TextMetrics.bpeTokenCount(col("text")).as("chars"),
      TextMetrics.bpeByteTokenCount(col("text")).as("bytes"))
      .collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"ASCII parity broken: $r"))
    // byte->unicode table shape: 256 symbols, all distinct, none
    // containing whitespace (the double-space representation invariant)
    val tbl = TextMetrics.byteToUnicode
    assert(tbl.size == 256 && tbl.distinct.size == 256)
    assert(tbl.forall(s => !s.exists(_.isWhitespace)))
    assert(tbl(65) == "A" && tbl(32) != " ")
  }

  test("packBins budgeted in BPE tokens: same plan shape, BPE running sum") {
    import spark.implicits._
    // BPE counts: "the cat"=3, "interesting"=5, "weather for"=5 →
    // with budget 6: starts 0,3,8 → bins 0,0,1, offsets 0,3,2
    val df = Seq((1L, "the cat"), (2L, "interesting"), (3L, "weather for"))
      .toDF("doc_id", "text").withColumn("shard", lit(0))
    val out = TextMetrics.packBins(df, "text", "doc_id", budget = 6,
        shardCol = "shard", tokenCount = TextMetrics.bpeTokenCount)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(3L, 5L, 5L)) // n_tokens is BPE
    assert(out.map(_.getLong(4)).toSeq == Seq(0L, 0L, 1L))
    assert(out.map(_.getLong(5)).toSeq == Seq(0L, 3L, 2L))
  }

  test("group distinct: exact matches a closed form; HLL approx within its rsd band") {
    import spark.implicits._
    // closed form: group g has values 0..(50*(g+1)-1) each appearing twice,
    // plus nulls that count in n_rows but not n_values/n_distinct
    val rows = (0 until 3).flatMap { g =>
      val vals = (0 until 50 * (g + 1)).flatMap(v => Seq(v, v))
      vals.map(v => (s"g$g", Some(v.toLong))) :+ ((s"g$g", Option.empty[Long]))
    }
    val df = rows.toDF("grp0", "v")
    val exact = Profile.groupDistinct(df, "grp0", "v")
      .orderBy("grp").collect()
    assert(exact.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      == Seq(("g0", 50L, 100L, 101L), ("g1", 100L, 200L, 201L), ("g2", 150L, 300L, 301L)))
    // HLL sketch path on a wider cardinality spread: within 3x rsd of truth
    val rng = new scala.util.Random(7)
    val wide = (0 until 30000).map(i => (s"g${i % 2}", rng.nextInt(5000).toLong))
      .toDF("grp0", "v")
    val truth = Profile.groupDistinct(wide, "grp0", "v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Profile.groupDistinctApprox(wide, "grp0", "v", rsd = 0.05)
      .collect().foreach { r =>
        val (g, est) = (r.getString(0), r.getLong(1))
        val err = math.abs(est.toDouble - truth(g)) / truth(g)
        assert(err <= 0.15, s"HLL estimate for $g off by ${err * 100}%")
      }
  }

  test("source report: one row per source, consistent counts, ordered " +
      "token deciles, exact language cardinality at this scale") {
    val report = Profile.sourceReport(docs, "source", "lang", "text", "doc_id")
      .collect()
    val nSources = docs.select("source").distinct().count()
    assert(report.length == nSources && nSources > 1)
    // doc counts partition the corpus
    assert(report.map(_.getAs[Long]("n_docs")).sum == docs.count())
    // exact per-source truth for the sketched columns
    val truthLangs = docs.groupBy("source")
      .agg(org.apache.spark.sql.functions.countDistinct("lang").as("nl"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    report.foreach { r =>
      val src = r.getAs[String]("source")
      val (p10, p50, p90) = (r.getAs[Long]("tokens_p10"),
        r.getAs[Long]("tokens_p50"), r.getAs[Long]("tokens_p90"))
      assert(p10 <= p50 && p50 <= p90, s"$src deciles out of order")
      assert(p10 > 0, s"$src has empty docs")
      val q50 = r.getAs[Double]("quality_p50")
      assert(q50 > 0.0 && q50 <= 1.0, s"$src median quality $q50 out of range")
      // HLL++ is exact at single-digit cardinalities, so require equality
      assert(r.getAs[Long]("n_langs_approx") == truthLangs(src),
        s"$src language cardinality")
      assert(r.getAs[Double]("avg_quality") > 0.0)
    }
  }

  test("group quantiles: exact matches a sorted reference; approx within accuracy") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val df = (0 until 4000).map(i => (s"g${i % 3}", rng.nextDouble() * 1000))
      .toDF("grp0", "x")
    val qs = Seq(0.25, 0.5, 0.9)
    val exact = graft.ops.Profile.groupQuantiles(df, "grp0", "x", qs)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    // reference: linear-interpolation percentile over the sorted values
    def ref(vals: Seq[Double], q: Double): Double = {
      val s = vals.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < s.size) s(lo) * (1 - frac) + s(lo + 1) * frac else s(lo)
    }
    val data = df.collect().map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).toSeq }
    for (g <- data.keys; q <- qs) {
      val expect = math.rint(ref(data(g), q) * 1e4) / 1e4
      assert(math.abs(exact((g, q)) - expect) <= 1e-4,
        s"grp $g q $q: ${exact((g, q))} vs $expect")
    }
    // approx sketch tracks exact within a loose band (scale path sanity)
    val approx = graft.ops.Profile.groupQuantilesApprox(df, "grp0", "x", qs)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    for (k <- exact.keys)
      assert(math.abs(approx(k) - exact(k)) < 20.0, s"$k: ${approx(k)} vs ${exact(k)}")
  }

  test("incremental minhash dedup equals the full self-join on new-involved pairs") {
    import spark.implicits._
    val base = docs.limit(300).select(col("doc_id"), col("text"))
    val offset = 1000000L
    val newBatch = base.limit(120).select((col("doc_id") + offset).as("doc_id"),
      concat(col("text"), lit(" tail tokens appended here")).as("text"))
    // corpus index persisted + reloaded: the production shape
    val tmp = graft.ops.Scratch.dir("mhidx")
    Dedup.minhashBandKeys(base, "text", "doc_id").write.parquet(s"$tmp/idx")
    val corpusKeys = spark.read.parquet(s"$tmp/idx")
    val incr = Dedup.minhashCandidatePairsIncremental(newBatch, corpusKeys,
        "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // reference: the full self-join over corpus ∪ new, keeping pairs that
    // involve at least one new doc
    val full = Dedup.minhashCandidatePairs(base.unionAll(newBatch), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a >= offset || b >= offset }.toSet
    val incrNorm = incr.map { case (n, m, _) => (math.min(n, m), math.max(n, m)) }.toSet
    assert(incrNorm == full, s"incr=${incrNorm.size} full=${full.size}")
    // tags are truthful: from_corpus iff the match id is below the offset
    assert(incr.forall { case (n, m, fc) => n >= offset && (fc == (m < offset)) })
    // every mutated clone finds its source (near-identical shingles)
    assert(incr.count(_._3) >= 100)
    Dedup.unpersistAll(spark)
  }

  test("incremental simhash equals the full self-join on new-involved pairs") {
    import spark.implicits._
    val base = docs.limit(250).select(col("doc_id"), col("text"))
    val offset = 1000000L
    val newBatch = base.limit(100).select((col("doc_id") + offset).as("doc_id"),
      concat(col("text"), lit(" small tail change")).as("text"))
    val tmp = graft.ops.Scratch.dir("shidx")
    Dedup.simhash(base, "text", "doc_id").write.parquet(s"$tmp/fp")
    val incr = Dedup.simhashCandidatePairsIncremental(newBatch,
        spark.read.parquet(s"$tmp/fp"), "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val full = Dedup.simhashCandidatePairs(base.unionAll(newBatch), "text", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .filter { case ((x, y), _) => x >= offset || y >= offset }.toMap
    val incrNorm = incr.map { case (n, m, h, _) =>
      ((math.min(n, m), math.max(n, m)), h) }.toMap
    assert(incrNorm == full, s"incr=${incrNorm.size} full=${full.size}")
    assert(incr.forall { case (n, m, _, fc) => n >= offset && fc == (m < offset) })
    assert(incr.count(_._4) >= 80) // near-identical docs land within hamming 8
    Dedup.unpersistAll(spark)
  }

  test("incremental ngram equals the full self-join on new-involved pairs") {
    import spark.implicits._
    val base = docs.limit(250).select(col("doc_id"), col("text"))
    val offset = 1000000L
    val newBatch = base.limit(100).select((col("doc_id") + offset).as("doc_id"),
      concat(col("text"), lit(" tail tokens appended here")).as("text"))
    val tmp = graft.ops.Scratch.dir("ngidx")
    Dedup.ngramBandKeys(base, "text", "doc_id").write.parquet(s"$tmp/keys")
    Dedup.ngramShingles(base, "text", "doc_id").write.parquet(s"$tmp/sh")
    val incr = Dedup.ngramJaccardPairsIncremental(newBatch,
        spark.read.parquet(s"$tmp/keys"), spark.read.parquet(s"$tmp/sh"),
        "text", "doc_id", minJaccard = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    val full = Dedup.ngramJaccardPairs(base.unionAll(newBatch), "text", "doc_id",
        minJaccard = 0.3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .filter { case ((x, y), _) => x >= offset || y >= offset }.toMap
    val incrNorm = incr.map { case (n, m, j, _) =>
      ((math.min(n, m), math.max(n, m)), j) }.toMap
    assert(incrNorm.keySet == full.keySet, s"incr=${incrNorm.size} full=${full.size}")
    incrNorm.foreach { case (k, j) => assert(math.abs(j - full(k)) < 1e-12) }
    assert(incr.forall { case (n, m, _, fc) => n >= offset && fc == (m < offset) })
    assert(incr.count(_._4) >= 90) // each mutated clone finds its source
    Dedup.unpersistAll(spark)
  }

  test("incremental embedding cosine equals the full self-join on new-involved pairs") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(400).select(col("vec_id"), col("embedding"))
    val offset = 1000000L
    // new batch = slightly perturbed copies of the first 150 vectors
    val newBatch = emb.limit(150).select((col("vec_id") + offset).as("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => x * lit(1.000001)).as("embedding"))
    val tmp = graft.ops.Scratch.dir("embidx")
    Dedup.embeddingBandKeys(emb, "embedding", "vec_id", dim = 64, bands = 4,
        bitsPerBand = 8).write.parquet(s"$tmp/keys")
    val incr = Dedup.embeddingCosinePairsIncremental(newBatch,
        spark.read.parquet(s"$tmp/keys"), "embedding", "vec_id", dim = 64,
        minCosine = 0.5, bands = 4, bitsPerBand = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    val full = Dedup.embeddingCosinePairs(emb.unionByName(newBatch),
        "embedding", "vec_id", minCosine = 0.5, bands = 4, bitsPerBand = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .filter { case ((x, y), _) => x >= offset || y >= offset }.toMap
    val incrNorm = incr.map { case (n, m, c, _) =>
      ((math.min(n, m), math.max(n, m)), c) }.toMap
    assert(incrNorm.keySet == full.keySet, s"incr=${incrNorm.size} full=${full.size}")
    incrNorm.foreach { case (k, c) => assert(math.abs(c - full(k)) < 1e-12) }
    // scaling a vector leaves cosine unchanged: every clone finds its source
    assert(incr.count(_._4) >= 140)
    Dedup.unpersistAll(spark)
  }

  test("pair operators: caches tracked per session, released by unpersistAll") {
    import spark.implicits._
    spark.catalog.clearCache() // independent of earlier suites
    CacheScope.unpersistAll(spark)
    val docsDf = docs.limit(200).select(col("doc_id"), col("text"))
    val pairs = Dedup.minhashCandidatePairs(docsDf, "text", "doc_id")
    pairs.count() // materialize: signature cache fills
    assert(CacheScope.trackedCount(spark) > 0)
    assert(!spark.sharedState.cacheManager.isEmpty)
    Dedup.unpersistAll(spark)
    assert(CacheScope.trackedCount(spark) == 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "operator caches must be fully released without clearCache()")
  }

  test("IVF index cache lives in its own scope: unpersistAll cannot evict it") {
    spark.catalog.clearCache()
    CacheScope.unpersistAll(spark)
    CacheScope.unpersistAll(spark, CacheScope.Index)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val index = Similarity.fitIvfIndex(emb, "embedding", "vec_id", nlist = 4)
    index.query(Seq.fill(64)(0.1), 5, 2).count() // materialize the cache
    assert(CacheScope.trackedCount(spark, CacheScope.Index) == 1)
    // a dedup pass + cleanup must NOT touch the live index
    val docsDf = docs.limit(100).select(col("doc_id"), col("text"))
    Dedup.minhashCandidatePairs(docsDf, "text", "doc_id").count()
    Dedup.unpersistAll(spark)
    Similarity.unpersistAll(spark)
    assert(CacheScope.trackedCount(spark) == 0)
    assert(CacheScope.trackedCount(spark, CacheScope.Index) == 1,
      "pair-operator cleanup evicted a live IVF index cache")
    assert(!spark.sharedState.cacheManager.isEmpty)
    // the owner releases it — and only then is the session cache-clean
    index.unpersist()
    assert(CacheScope.trackedCount(spark, CacheScope.Index) == 0)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("paragraphDedup election is exact for extreme and negative doc ids") {
    import spark.implicits._
    // packed-long encodings (did*1e6+pos) corrupt this corpus: a negative
    // id, an id beyond 2^53, and a same-paragraph collision across them
    val big = 4000000000000000000L // > 9.2e12 premise, near Long.MaxValue/2
    val docsDf = Seq(
      (-5L, "shared para <p> neg only"),
      (big, "shared para <p> big only"),
      (7L, "shared para <p> seven only")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docsDf, "text", "doc_id", " <p> ")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // min(struct) elects the NEGATIVE id as first for the shared paragraph
    assert(out(-5L) == "shared para <p> neg only")
    assert(out(big) == "big only")
    assert(out(7L) == "seven only")
  }

  test("pair-operator construction is lazy: no Spark job before an action") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // materialize the source frames FIRST: spark.read.parquet itself runs
    // a footer-listing job, which is not what this test measures
    val docsDf = docs.limit(100).select(col("doc_id"), col("text"))
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idxTmp = graft.ops.Scratch.dir("lazyidx")
    Dedup.minhashBandKeys(docsDf, "text", "doc_id").write.parquet(s"$idxTmp/mh")
    val mhIdx = spark.read.parquet(s"$idxTmp/mh")
    val corpusHashes = Dedup.exact(docsDf, "text", "doc_id").select("content_hash")
    // Deterministic laziness check, no fixed sleep: jobs are counted only
    // inside the construction window [t0, t1] (an unrelated background job
    // outside it can't flake the assert), and instead of sleeping we run a
    // tagged marker action afterwards and wait for ITS JobStart — the
    // listener bus is FIFO, so once the marker surfaces, any
    // construction-time job would already have been delivered.
    val constructionJobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    @volatile var t0 = Long.MaxValue
    @volatile var t1 = Long.MaxValue
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        if (desc == "graft-lazy-marker") markerSeen.countDown()
        else if (js.time >= t0 && js.time <= t1)
          constructionJobs.add(s"jobId=${js.jobId} time=${js.time} desc='$desc'")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      t0 = System.currentTimeMillis()
      // construction of every capped pipeline: plan building only
      Dedup.minhashCandidatePairs(docsDf, "text", "doc_id", maxBucketSize = 100)
      Dedup.ngramJaccardPairs(docsDf, "text", "doc_id", 0.5, maxBucketSize = 100)
      // with d pinned, simhash skips its auto-route sizing count (the
      // dim-supplied hyperplane precedent below: sizing probes are the
      // documented construction-time exception, avoidable by the knob)
      Dedup.simhashCandidatePairs(docsDf, "text", "doc_id",
        maxBucketSize = 100, blocksPerKey = 1)
      // with dim supplied, even the hyperplane operator skips its probe job
      Dedup.embeddingCosinePairs(emb, "embedding", "vec_id", 0.9,
        maxBucketSize = 100, dim = Some(64))
      // incremental variants construct lazily against a persisted index
      Dedup.minhashCandidatePairsIncremental(docsDf, mhIdx, "text", "doc_id",
        maxBucketSize = 100)
      // the Bloom prefilter is a lazy scalar subquery, not a built literal
      val bloom = Dedup.exactIncrementalBloom(docsDf, "text", "doc_id",
        corpusHashes, expectedItems = 1000000)
      t1 = System.currentTimeMillis()
      // a 1e6-item filter is ~1.2 MB of bits: as a plan literal it would
      // put megabytes into every rendering of the plan
      val planBytes = bloom.queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .length
      assert(planBytes < 50000, s"exactIncrementalBloom plan is $planBytes chars")
      spark.sparkContext.setJobDescription("graft-lazy-marker")
      spark.range(1).count()
      spark.sparkContext.setJobDescription(null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the marker job")
      assert(constructionJobs.isEmpty,
        s"operator construction submitted Spark job(s); must be lazy: " +
          s"${constructionJobs.toArray.mkString("; ")}")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      Dedup.unpersistAll(spark)
    }
  }

  test("ngram verify matches brute-force Jaccard on a long-document skew corpus") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val vocab = (0 until 60).map(i => s"w$i")
    def sent(n: Int) = (0 until n).map(_ => vocab(rng.nextInt(vocab.length))).mkString(" ")
    val base = sent(40)
    val corpus = Seq(
      (1L, base), (2L, base + " extra tail words here"), // near-dups
      (3L, sent(5000)),                                   // one very long doc
      (4L, sent(30)), (5L, sent(30))) ++
      (6L to 20L).map(i => (i, sent(25)))
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(df, "text", "doc_id", minJaccard = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute-force oracle: exact jaccard over distinct 3-shingles
    def shingles(t: String): Set[String] = {
      val w = t.split(" ", -1)
      (0 until w.length - 2).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    val sh = corpus.map { case (id, t) => id -> shingles(t) }.toMap
    got.foreach { case ((a, b), j) =>
      val expect = sh(a).intersect(sh(b)).size.toDouble / sh(a).union(sh(b)).size
      assert(math.abs(j - expect) < 1e-12, s"pair ($a,$b): got $j expect $expect")
    }
    // the known near-dup pair must be found with its exact similarity
    assert(got.contains((1L, 2L)) &&
      math.abs(got((1L, 2L)) -
        (sh(1L).intersect(sh(2L)).size.toDouble / sh(1L).union(sh(2L)).size)) < 1e-12)
    Dedup.unpersistAll(spark)
  }

  test("embed cosine multi-band: genuine cosines above threshold, caps bound buckets") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = Dedup.embeddingCosinePairs(emb, "embedding", "vec_id",
      minCosine = 0.25, bands = 4, bitsPerBand = 6, maxBucketSize = 1000).collect()
    assert(pairs.nonEmpty)
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    pairs.foreach { r =>
      val (a, b, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val (va, vb) = (vecs(a), vecs(b))
      val dot = va.zip(vb).map(t => t._1 * t._2).sum
      val cos = dot / (math.sqrt(va.map(x => x * x).sum) *
        math.sqrt(vb.map(x => x * x).sum))
      assert(math.abs(cos - c) < 1e-9)
      assert(c >= 0.25)
    }
    // a degenerate corpus (every vector identical -> one bucket per band)
    // is capped: finishes with zero pairs instead of N^2/2 comparisons
    val one = vecs(1L)
    val clones = (0L until 3000L).map(i => (i, one)).toDF("vec_id", "embedding")
    val capped = Dedup.embeddingCosinePairs(clones, "embedding", "vec_id",
      minCosine = 0.9, bands = 4, bitsPerBand = 16, maxBucketSize = 100)
    assert(capped.count() == 0)
  }

  test("portable simhash: deterministic and near-dups stay close in hamming") {
    val a = Dedup.simhash(docs.limit(10), "text", "doc_id", portable = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.simhash(docs.limit(10), "text", "doc_id", portable = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    val nearDf = docs.limit(10).withColumn("text", concat(col("text"), lit(" tail")))
    val near = Dedup.simhash(nearDf, "text", "doc_id", portable = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dists = a.keys.map(id => java.lang.Long.bitCount(a(id) ^ near(id)))
    assert(dists.forall(_ <= 16), s"near-dup hamming distances too large: $dists")
  }

  test("portable fingerprint is the md5 hex prefix") {
    val row = docs.limit(1).select("doc_id", "text").collect()(0)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(row.getString(1).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val fp = TextMetrics.fingerprint(docs.limit(1), "text", "doc_id",
      portable = true).collect()(0).getString(1)
    assert(fp == hex.substring(0, 16))
  }

  test("repetition metric flags boilerplate-heavy docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),   // one distinct 3-gram
      (2L, "the quick brown fox jumps over the lazy dog"), // all distinct
      (3L, "ab"))                                        // < 3 tokens: excluded
      .toDF("doc_id", "text")
    val out = TextMetrics.repetition(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(!out.contains(3L))
    assert(out(1L)._2 == 1L && out(1L)._3 > 0.8, out(1L).toString)
    assert(out(2L)._1 == out(2L)._2 && out(2L)._3 == 0.0)
  }

  test("deterministic sampling: exact strata sizes, reproducible, append-stable") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val s1 = Sampling.stratifiedExact(orders, "o_orderpriority", "o_orderkey", 20)
    val sizes = s1.groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.values.forall(_ == 20), sizes.toString)
    // reproducible: same seed -> same ids; different seed -> different sample
    val ids1 = s1.select("o_orderkey").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.stratifiedExact(orders, "o_orderpriority", "o_orderkey", 20)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    val ids3 = Sampling.stratifiedExact(orders, "o_orderpriority", "o_orderkey",
      20, seed = 7L).select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(ids3 != ids1)
    // append-stable: adding rows of OTHER strata never changes a stratum's sample
    val more = orders.withColumn("o_orderpriority", lit("9-SYNTHETIC"))
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
    val s4 = Sampling.stratifiedExact(orders.unionByName(more),
      "o_orderpriority", "o_orderkey", 20)
      .filter(col("o_orderpriority") =!= "9-SYNTHETIC")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(s4 == ids1)
    // fraction sampling: deterministic, near-expected size
    val n = orders.count()
    val frac = Sampling.deterministicSample(orders, "o_orderkey", 0.3).count()
    assert(math.abs(frac.toDouble / n - 0.3) < 0.05, s"$frac of $n")
    val frac2 = Sampling.deterministicSample(orders, "o_orderkey", 0.3).count()
    assert(frac == frac2)
    // one-stratum degenerate corpus (maximum skew): two-stage pruning
    // still yields the exact md5-min sample regardless of partitioning
    import spark.implicits._
    val skew = (0L until 5000L).map(i => ("only", i)).toDF("stratum", "id")
    val expect = (0L until 5000L)
      .sortBy { i =>
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(s"42|$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
      .take(25).toSet
    val got = Sampling.stratifiedExact(skew.repartition(7), "stratum", "id", 25)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == expect)
  }

  test("connectedComponents: chains, singletons, and keepRepresentatives election") {
    import spark.implicits._
    // chain a-b, b-c, c-d plus an isolated self-pair e-e and a disjoint
    // pair f-g: components {a,b,c,d} -> a, {e} -> e, {f,g} -> f
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 5L), (7L, 6L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L,
      6L -> 6L, 7L -> 6L), cc.toString)
    // election keeps exactly the component minima; untouched docs pass
    val docsDf = (1L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val kept = Dedup.keepRepresentatives(docsDf, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L, 6L, 8L), kept.toString)
    // same election from a precomputed labeling (the incremental flow)
    val keptByLabels = Dedup.keepRepresentativesByLabels(docsDf,
        Dedup.connectedComponents(pairs), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptByLabels == kept)
    // long chain (64 nodes): converges in O(log n) star rounds, one component
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainCc = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(chainCc.length == 64 && chainCc.forall(_._2 == 0L))
    // empty pair frame: converges immediately to an empty labeling
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).count() == 0L)
    // null ids drop instead of producing a (null, null) label
    val withNulls = Seq((Some(1L), Some(2L)), (None, Some(3L)),
      (Some(4L), None)).toDF("id_a", "id_b")
    val nn = Dedup.connectedComponents(withNulls)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nn == Map(1L -> 1L, 2L -> 1L), nn.toString)
    // generic over orderable id types: string ids elect the lexicographic min
    val sPairs = Seq(("url-b", "url-a"), ("url-b", "url-c"), ("url-x", "url-y"))
      .toDF("id_a", "id_b")
    val sCc = Dedup.connectedComponents(sPairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sCc == Map("url-a" -> "url-a", "url-b" -> "url-a",
      "url-c" -> "url-a", "url-x" -> "url-x", "url-y" -> "url-x"), sCc.toString)
  }

  test("as-of join: latest at-or-before match, deterministic ties, tolerance") {
    import spark.implicits._
    val views = Seq(
      (100L, 1L, 10L, 1.0), (101L, 1L, 20L, 2.0), (102L, 1L, 20L, 3.0),
      (200L, 2L, 50L, 9.0))
      .toDF("event_id", "user_id", "ts", "value")
    val clicks = Seq(
      (900L, 1L, 5L),  // before any view: no match
      (901L, 1L, 20L), // tie at t=20: larger view id (102) wins
      (902L, 1L, 25L), // latest view <= 25 is t=20 -> 102
      (903L, 2L, 60L), // -> 200
      (904L, 3L, 99L)) // user with no views: no match
      .toDF("event_id", "user_id", "ts")
    val out = AsOf.joinBackward(clicks, views, "user_id", "ts", "ts",
        "event_id", Seq("value"))
      .select("event_id", "asof_event_id", "asof_time", "asof_value")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(!out.contains(900L) && !out.contains(904L))
    assert(out(901L) == ((102L, 20L, 3.0)))
    assert(out(902L) == ((102L, 20L, 3.0)))
    assert(out(903L) == ((200L, 50L, 9.0)))
    // tolerance: click at 25 is 5 ticks after the view -> dropped at tol 3
    val tight = AsOf.joinBackward(clicks, views, "user_id", "ts", "ts",
        "event_id", Seq("value"), tolerance = Some(lit(3)))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(tight == Set(901L)) // 902 (gap 5) and 903 (gap 10) drop
  }

  test("multimodal: real header parsing for png/jpeg/gif/bmp/wav") {
    import spark.implicits._
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // PNG: magic + IHDR(len, type, 640x480, depth 8, truecolor)
    val png = bytes(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13) ++ "IHDR".getBytes ++
      bytes(0, 0, 2, 0x80, 0, 0, 1, 0xe0, 8, 2, 0, 0, 0)
    // JPEG: SOI + APP0 (16 bytes) + SOF0 (precision 8, 480 high, 640 wide, 3 ch)
    val jpeg = bytes(0xff, 0xd8, 0xff, 0xe0, 0, 16) ++
      "JFIF".getBytes ++ bytes(0, 1, 1, 0, 0, 1, 0, 1, 0, 0) ++
      bytes(0xff, 0xc0, 0, 17, 8, 1, 0xe0, 2, 0x80, 3)
    // GIF89a 320x200; BMP 100x50; WAV stereo 44100 Hz
    val gif = "GIF89a".getBytes ++ bytes(0x40, 1, 0xc8, 0, 0, 0)
    val bmp = "BM".getBytes ++ new Array[Byte](16) ++
      bytes(100, 0, 0, 0, 50, 0, 0, 0) ++ new Array[Byte](4)
    val wav = "RIFF".getBytes ++ bytes(36, 0, 0, 0) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ bytes(16, 0, 0, 0, 1, 0, 2, 0,
        0x44, 0xac, 0, 0, 0x10, 0xb1, 2, 0, 4, 0, 16, 0)
    val df = Seq((1L, png), (2L, jpeg), (3L, gif), (4L, bmp), (5L, wav),
      (6L, "just text".getBytes), (7L, bytes(0xff, 0xd8, 0xff)))
      .toDF("doc_id", "payload")
    val metas = Multimodal.extractMetadata(df, "doc_id", "payload")
      .collect().map(m => m.id -> m).toMap
    assert(metas(1L).format == "png" && metas(1L).width == 640 &&
      metas(1L).height == 480 && metas(1L).channels == 3)
    assert(metas(2L).format == "jpeg" && metas(2L).width == 640 &&
      metas(2L).height == 480 && metas(2L).channels == 3)
    assert(metas(3L).format == "gif" && metas(3L).width == 320 &&
      metas(3L).height == 200)
    assert(metas(4L).format == "bmp" && metas(4L).width == 100 &&
      metas(4L).height == 50)
    assert(metas(5L).format == "wav" && metas(5L).channels == 2 &&
      metas(5L).sample_rate == 44100)
    assert(metas(6L).format == "raw")
    // truncated jpeg must degrade, not throw
    assert(metas(7L).format == "jpeg" && metas(7L).width == -1)
  }

  test("bucketed as-of splits a hot key's window and matches the plain join") {
    import spark.implicits._
    // one bot user holds 50% of all events: the plain plan funnels its
    // whole history through ONE window partition
    val rng = new scala.util.Random(11)
    val n = 4000
    val events = (0 until n).map { i =>
      val user = if (i % 2 == 0) 0L else (1 + rng.nextInt(50)).toLong
      (i.toLong, user, rng.nextLong(100000L), rng.nextDouble())
    }
    val views = events.filter(_._1 % 3 == 0)
      .toDF("event_id", "user_id", "ts", "value")
    val clicks = events.filter(_._1 % 3 != 0)
      .map(e => (e._1, e._2, e._3)).toDF("event_id", "user_id", "ts")
    val tol = 500L
    val width = 1000L
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "asof_event_id", "asof_time", "asof_value")
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString).toSeq
    val plain = AsOf.joinBackward(clicks, views, "user_id", "ts", "ts",
      "event_id", Seq("value"), tolerance = Some(lit(tol)))
    val bucketed = AsOf.joinBackwardBucketed(clicks, views, "user_id", "ts", "ts",
      "event_id", Seq("value"), bucketWidth = width, tolerance = tol)
    assert(sorted(plain) == sorted(bucketed))
    assert(plain.count() > 100) // non-trivial corpus actually matched
    // skew envelope: the hot key's largest window partition shrinks from
    // "all its events" to "one bucket's events (+1 carry)"
    val hotPlain = events.count(_._2 == 0L) // rows in the hot key's one partition
    val hotBucketedMax = events.filter(_._2 == 0L)
      .groupBy(e => e._3 - e._3 % width).map(_._2.size).max + 1
    assert(hotBucketedMax * 4 < hotPlain,
      s"bucketing should split the hot partition: $hotBucketedMax vs $hotPlain")
    // and the physical plan's window spec really partitions by (_k, _b)
    val planStr = bucketed.queryExecution.executedPlan.toString
    assert(planStr.contains("partitionBy=[_k, _b]") || planStr.contains("_b#"),
      "window must partition by (key, bucket)")
  }

  test("as-of join: NULL keys and NULL right timestamps never match") {
    import spark.implicits._
    val views = Seq(
      (Some(100L), Some(1L), Some(10L), 1.0),
      (Some(101L), None, Some(5L), 2.0),      // null key: never a candidate
      (Some(102L), Some(2L), None, 3.0))      // null time: never a candidate
      .toDF("event_id", "user_id", "ts", "value")
    val clicks = Seq(
      (900L, Some(1L), Some(20L)),
      (901L, None, Some(20L)),                 // null key: no match
      (902L, Some(2L), Some(20L)))             // only null-ts candidate: no match
      .toDF("event_id", "user_id", "ts")
    val out = AsOf.joinBackward(clicks, views, "user_id", "ts", "ts",
        "event_id", Seq("value"))
      .select("event_id", "asof_event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(900L -> 100L), out.toString)
  }

  test("multimodal: malformed RIFF chunk sizes terminate, never hang or throw") {
    import spark.implicits._
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // LIST chunk with size -8: naive scans advance by zero (hang) or go
    // negative (StringIndexOutOfBounds)
    val evil1 = "RIFF".getBytes ++ bytes(36, 0, 0, 0) ++ "WAVE".getBytes ++
      "LIST".getBytes ++ bytes(0xf8, 0xff, 0xff, 0xff) ++ new Array[Byte](8)
    val evil2 = "RIFF".getBytes ++ bytes(36, 0, 0, 0) ++ "WAVE".getBytes ++
      "LIST".getBytes ++ bytes(0x9c, 0xff, 0xff, 0xff) ++ new Array[Byte](8)
    val df = Seq((1L, evil1), (2L, evil2)).toDF("doc_id", "payload")
    val metas = Multimodal.extractMetadata(df, "doc_id", "payload").collect()
    assert(metas.length == 2)
    assert(metas.forall(m => m.format == "wav" && m.channels == -1))
  }

  test("multimodal: batched stub decode is deterministic, frames sample") {
    val bin = docs.limit(50).select(col("doc_id"), col("text").cast("binary").as("payload"))
    val f1 = Multimodal.extractFeatures(bin, "doc_id", "payload", dim = 8).collect()
      .map(m => m.id -> m.features.toSeq).toMap
    val f2 = Multimodal.extractFeatures(bin, "doc_id", "payload", dim = 8).collect()
      .map(m => m.id -> m.features.toSeq).toMap
    assert(f1 == f2)
    assert(f1.values.forall(_.length == 8))
    val meta = Multimodal.extractFeatures(bin, "doc_id", "payload", dim = 8).collect()
    assert(meta.forall(_.format == "raw")) // text payloads have no magic bytes
    assert(meta.forall(m => m.n_bytes > 0))
    val frames = Multimodal.sampleFrames(bin, "doc_id", "payload", frameBytes = 64, everyNth = 2)
    assert(frames.count() > 50) // multiple frames per doc
    assert(frames.columns.toSeq == Seq("doc_id", "frame_idx", "frame_payload"))
  }

  test("dHash: scale-invariant, locally perturbed images stay close, " +
    "distinct images far; banded pairs == exact hamming") {
    import spark.implicits._
    def pattern(x: Int, y: Int): Int = {
      val v = ((x * 13 + y * 31) ^ (x * y / 7)) & 0xff
      (v << 16) | (((x + y) & 0xff) << 8) | ((x * 3) & 0xff)
    }
    val base = encodeImage("png", 120, 90, pattern)
    // the SAME scene at a different resolution
    val scaled = encodeImage("png", 60, 45, (x, y) => pattern(x * 2, y * 2))
    // a light local perturbation (one corner patch recolored)
    val perturbed = encodeImage("png", 120, 90, (x, y) =>
      if (x < 10 && y < 8) 0xffffff else pattern(x, y))
    // a genuinely different scene
    val other = encodeImage("png", 120, 90, (x, y) =>
      (((x * x + y * y) & 0xff) << 16) | 0x4040)
    // the SAME scene far above the 72x64 subsampling threshold: the
    // reader decodes every ~8th pixel (setSourceSubsampling) — the hash
    // must still land next to the small-image full-decode hash
    val big = encodeImage("png", 720, 540, (x, y) => pattern(x / 6, y / 6))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val Some(hb) = Multimodal.dHash(base)
    val Some(hs) = Multimodal.dHash(scaled)
    val Some(hp) = Multimodal.dHash(perturbed)
    val Some(ho) = Multimodal.dHash(other)
    val Some(hbig) = Multimodal.dHash(big)
    assert(ham(hb, hs) <= 3, s"rescale moved ${ham(hb, hs)} bits")
    assert(ham(hb, hp) <= 3, s"local patch moved ${ham(hb, hp)} bits")
    assert(ham(hb, ho) > 10, s"distinct scenes only ${ham(hb, ho)} bits apart")
    assert(ham(hb, hbig) <= 3,
      s"subsampled megasize decode moved ${ham(hb, hbig)} bits")
    // distributed banded pairs == exact all-pairs hamming at the cut
    val rows = Seq((1L, base), (2L, scaled), (3L, perturbed), (4L, other),
      (5L, Array[Byte](1, 2, 3))) // undecodable: excluded, never a pair
    val df = rows.toDF("id", "payload")
    val got = Multimodal.imageNearDupPairs(df, "id", "payload",
        maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hs4 = Map(1L -> hb, 2L -> hs, 3L -> hp, 4L -> ho)
    val want = (for {
      (ia, ha) <- hs4; (ib, hb2) <- hs4
      if ia < ib && ham(ha, hb2) <= 3
    } yield (ia, ib, ham(ha, hb2).toLong)).toSet
    assert(got == want)
    assert(want.nonEmpty, "fixture must contain perceptual near-dups")
    // hashes frame reports the stub fallback honestly
    val hf = Multimodal.imageHashes(df, "id", "payload").collect()
    assert(hf.count(_.real_decode) == 4 && hf.count(!_.real_decode) == 1)
  }

  /** Four distinct 64x48 PNG scenes planted 3, 2, 1 and 2 times (ids
   * 1..8): the exact copies are the only pairs at Hamming distance 0. */
  private def plantedCopies(): (org.apache.spark.sql.DataFrame, Set[(Long, Long)]) = {
    import spark.implicits._
    val scenes = Seq[(Int, Int) => Int](
      (x, y) => (((x * 13 + y * 31) ^ (x * y / 7)) & 0xff) << 16,
      (x, y) => (((x * x + y * y) & 0xff) << 16) | 0x4040,
      (x, y) => if ((x / 8 + y / 8) % 2 == 0) 0xffffff else 0,
      (x, y) => ((x * 4) & 0xff) << 8 | ((y * 5) & 0xff))
    val sceneOf = Seq(0, 0, 0, 1, 1, 2, 3, 3)
    val payloads = scenes.map(f => encodeImage("png", 64, 48, f))
    val hashes = payloads.map(p => Multimodal.dHash(p).get)
    assert(hashes.distinct.size == 4, "fixture scenes must hash apart")
    val rows = sceneOf.zipWithIndex.map { case (sc, i) => (i + 1L, payloads(sc)) }
    val copies = for {
      (a, i) <- sceneOf.zipWithIndex; (b, j) <- sceneOf.zipWithIndex
      if i < j && a == b
    } yield (i + 1L, j + 1L)
    (rows.toDF("id", "payload"), copies.toSet)
  }

  test("media hamming pairs at bands = 1 key on the whole hash: the " +
    "planted copies are the only candidates and the only pairs") {
    import spark.implicits._
    // the one-band pigeonhole key is the full 64-bit hash (a zero mask
    // would key every hash to 0 and make the candidate join all-pairs)
    val hs = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue, 0x0123456789abcdefL)
    val keys = hs.toDF("h").select(Dedup.pigeonholeBlock(col("h"), 0, 1)).as[Long]
      .collect().toSeq
    assert(keys == hs)
    val (df, copies) = plantedCopies()
    val hashes = Multimodal.imageHashes(df, "id", "payload").toDF()
      .select(col("id"), col("dhash"))
    val candidates = Dedup.bandPairs(hashes, Seq("dhash"), Int.MaxValue, "bands1",
        bandsOf = Dedup.withBands(_, Dedup.pigeonholeBands(col("dhash"), 1)))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(candidates.sorted == copies.toSeq.sorted)
    val got = Multimodal.imageNearDupPairs(df, "id", "payload",
        maxHamming = 0, bands = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.sorted == copies.toSeq.sorted.map { case (a, b) => (a, b, 0L) })
    Dedup.unpersistAll(spark)
  }

  test("media near-dup pairs' (id, dhash) pin is released by Dedup.unpersistAll") {
    Dedup.unpersistAll(spark)
    assert(CacheScope.trackedCount(spark) == 0)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (df, copies) = plantedCopies()
    assert(Multimodal.imageNearDupPairs(df, "id", "payload").count() >= copies.size)
    assert(CacheScope.trackedCount(spark) > 0)
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty)
    Dedup.unpersistAll(spark)
    assert(CacheScope.trackedCount(spark) == 0)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"RDDs the call persisted are still cached: $left")
  }

  test("dHash: narrow-but-long strip (subsampling floors to 1, decode " +
    "past the one-call pixel cutoff) hashes identically to the small " +
    "render of the same grid-aligned scene via the per-cell-row path") {
    // piecewise-constant color per 9x8 grid cell: cell means are the
    // same exact value at ANY resolution, so the hash is bit-identical
    // across renders — the fixture rgbAt argument
    def cellColor(cr: Int, cc: Int): Int = {
      val v = ((cr * 37 + cc * 101) ^ (cr * cc * 7)) & 0xff
      (v << 16) | (((cr + cc) * 29 & 0xff) << 8) | ((cc * 3) & 0xff)
    }
    def scene(w: Int, h: Int)(x: Int, y: Int): Int =
      cellColor((y.toLong * 8 / h).toInt, (x.toLong * 9 / w).toInt)
    // 63x56: 3.5k px -> whole-image bulk fetch; 63x2000: width < 72 so
    // setSourceSubsampling floors to 1 and the FULL 126k-px decode
    // exceeds the 64Ki one-call cutoff -> per-cell-row fetch path
    val small = encodeImage("png", 63, 56, scene(63, 56))
    val strip = encodeImage("png", 63, 2000, scene(63, 2000))
    val Some(hSmall) = Multimodal.dHash(small)
    val Some(hStrip) = Multimodal.dHash(strip)
    assert(hSmall == hStrip,
      f"per-cell-row fetch changed the hash: $hSmall%016x vs $hStrip%016x")
  }

  test("audioHash: gain-invariant, resample-robust, distinct envelopes " +
    "far; banded pairs == exact hamming") {
    import spark.implicits._
    def wave(n: Int, f: Int => Double): Array[Short] =
      (0 until n).map(i => (f(i) * 32000).toShort).toArray
    def env1(i: Int): Double =
      math.sin(i * 0.05) * (0.15 + 0.85 * math.abs(math.sin(i * 0.0011)))
    val base = encodeWav16(8000, 1, wave(8000, env1))
    val half = encodeWav16(8000, 1, wave(8000, i => env1(i) * 0.5))
    val resamp = encodeWav16(4000, 1, wave(4000, i => env1(i * 2)))
    val other = encodeWav16(8000, 1, wave(8000, i =>
      math.sin(i * 0.11) * (0.15 + 0.85 * math.abs(math.cos(i * 0.0023)))))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val Some(hb) = Multimodal.audioHash(base)
    val Some(hh) = Multimodal.audioHash(half)
    val Some(hr) = Multimodal.audioHash(resamp)
    val Some(ho) = Multimodal.audioHash(other)
    assert(ham(hb, hh) <= 2, s"uniform gain moved ${ham(hb, hh)} bits")
    assert(ham(hb, hr) <= 4, s"2x resample moved ${ham(hb, hr)} bits")
    assert(ham(hb, ho) > 10, s"distinct envelopes ${ham(hb, ho)} bits apart")
    val rows = Seq((1L, base), (2L, half), (3L, resamp), (4L, other),
      (5L, Array[Byte](9, 9, 9))) // not a WAV: stub, excluded from pairs
    val got = Multimodal.audioNearDupPairs(rows.toDF("id", "payload"),
        "id", "payload", maxHamming = 4, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hs4 = Map(1L -> hb, 2L -> hh, 3L -> hr, 4L -> ho)
    val want = (for {
      (ia, ha) <- hs4; (ib, hb2) <- hs4
      if ia < ib && ham(ha, hb2) <= 4
    } yield (ia, ib, ham(ha, hb2).toLong)).toSet
    assert(got == want && want.nonEmpty)
    val hf = Multimodal.audioHashes(rows.toDF("id", "payload"),
      "id", "payload").collect()
    assert(hf.count(_.real_decode) == 4 && hf.count(!_.real_decode) == 1)
  }

  test("videoHashes: PNG-stream frame split, majority-vote signature, " +
    "re-encode near-dup found, stub excluded from pairs") {
    import spark.implicits._
    // piecewise-constant gray texture aligned to the dHash 9x8 grid in
    // 72x48 full-res space (8x6-px cells) — the MediaFixture argument:
    // both resolutions area-average to identical cell values, so the
    // re-encode is an EXACT perceptual dup while distinct scenes draw
    // independent cells
    def pat(s: Int)(x: Int, y: Int): Int = {
      val h = (s * 8191) ^ ((x / 8) * 127) ^ ((y / 6) * 31)
      val g = (h * 2654435761L >>> 24).toInt & 0xff
      (g << 16) | (g << 8) | g
    }
    def video(scenes: Seq[Int], step: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      scenes.foreach(s => bos.write(
        encodeImage("png", 72 / step, 48 / step,
          (x, y) => pat(s)(x * step, y * step))))
      bos.toByteArray
    }
    val base = video(Seq(1, 2, 3, 4, 5, 6), 1)
    // the SAME six scenes re-encoded at half resolution
    val rescaled = video(Seq(1, 2, 3, 4, 5, 6), 2)
    // a different clip
    val other = video(Seq(7, 8, 9, 10, 11, 12), 1)
    // frame split finds every signature
    assert(Multimodal.pngFrameOffsets(base).length == 6)
    assert(Multimodal.pngFrameOffsets(Array[Byte](1, 2, 3)).isEmpty)
    val rows = Seq((1L, base), (2L, rescaled), (3L, other),
      (4L, Array[Byte](0, 1, 2))) // no PNG frames: stub, never a pair
    val hf = Multimodal.videoHashes(rows.toDF("id", "payload"),
      "id", "payload", everyNth = 2).collect().map(h => h.id -> h).toMap
    assert(hf(1L).n_frames == 6 && hf(1L).n_sampled == 3 &&
      hf(1L).n_decoded == 3 && hf(1L).real_decode)
    assert(!hf(4L).real_decode && hf(4L).n_frames == 0)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hf(1L).dhash, hf(2L).dhash) <= 3,
      s"re-encode moved ${ham(hf(1L).dhash, hf(2L).dhash)} bits")
    assert(ham(hf(1L).dhash, hf(3L).dhash) > 10,
      s"distinct clips ${ham(hf(1L).dhash, hf(3L).dhash)} bits apart")
    val got = Multimodal.videoNearDupPairs(rows.toDF("id", "payload"),
        "id", "payload", maxHamming = 3, bands = 4, everyNth = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), s"$got")
    // fixture-truth: MediaFixture videos pair (3g, 3g+1) at hamming 0
    val vids = graft.ops.MediaFixture.videos(spark,
      spark.range(9).toDF("doc_id"))
    val fx = Multimodal.videoNearDupPairs(vids, "id", "payload",
        maxHamming = 3, bands = 4, everyNth = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fx == Set((0L, 1L, 0L), (3L, 4L, 0L), (6L, 7L, 0L)), s"$fx")
  }

  /** Encode a solid-color or gradient image with the JDK's own writers so
   * the decode test exercises REAL codec bytes, not handcrafted headers. */
  private def encodeImage(fmt: String, w: Int, h: Int,
      rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no JDK writer for $fmt")
    bos.toByteArray
  }

  /** Hand-assemble a 16-bit PCM WAV (the encoder side is a plain RIFF
   * layout — no audio library involved on either side). */
  private def encodeWav16(rate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(channels.toShort)
      .putInt(rate).putInt(rate * channels * 2).putShort((channels * 2).toShort).putShort(16)
    bb.put("data".getBytes).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  test("multimodal: REAL pixel decode via ImageIO for png/jpeg/gif/bmp") {
    import spark.implicits._
    val solid = (_: Int, _: Int) => (200 << 16) | (100 << 8) | 50 // R=200 G=100 B=50
    val grad = (x: Int, _: Int) => { val v = (x * 255) / 63; (v << 16) | (v << 8) | v }
    val df = Seq(
      (1L, encodeImage("png", 64, 48, solid)),
      (2L, encodeImage("jpg", 64, 48, solid)),
      (3L, encodeImage("gif", 64, 48, solid)),
      (4L, encodeImage("bmp", 64, 48, solid)),
      (5L, encodeImage("png", 64, 4, grad))).toDF("doc_id", "payload")
    val out = Multimodal.decodeMedia(df, "doc_id", "payload")
      .collect().map(d => d.id -> d).toMap
    assert(out.values.forall(d => d.real_decode && d.width == 64 && d.n_samples == d.width.toLong * d.height))
    for ((id, fmt) <- Seq(1L -> "png", 2L -> "jpeg", 3L -> "gif", 4L -> "bmp")) {
      val d = out(id)
      assert(d.format == fmt && d.height == 48 && d.channels >= 3, s"id=$id $d")
      // solid color: channel means exact for lossless, within JPEG error
      // for lossy; stds ~0 either way
      val tol = if (fmt == "jpeg") 4.0f else 0.001f
      assert(math.abs(d.features(0) - 200f) <= tol, s"id=$id R=${d.features(0)}")
      assert(math.abs(d.features(1) - 100f) <= tol, s"id=$id G=${d.features(1)}")
      assert(math.abs(d.features(2) - 50f) <= tol, s"id=$id B=${d.features(2)}")
      assert(d.features(4) <= tol && d.features(5) <= tol && d.features(6) <= tol)
    }
    // gradient: real pixel variation shows up as a real std
    val g = out(5L)
    assert(g.height == 4 && g.features(4) > 50f, g.features.mkString(","))
    // extractFeatures rides the same real path: dim-padded channel stats
    val ef = Multimodal.extractFeatures(df.where($"doc_id" === 1), "doc_id", "payload", dim = 16)
      .collect().head
    assert(ef.format == "png" && math.abs(ef.features(0) - 200f) < 0.001f &&
      ef.features.length == 16 && ef.features(8) == 0f)
  }

  test("multimodal: REAL WAV PCM sample decode (stats + stub fallback)") {
    import spark.implicits._
    // 1 kHz square wave at 8 kHz, amplitude 0.5: mean 0, rms 0.5, zcr 0.25
    val square = Array.tabulate[Short](8000)(i => if ((i / 4) % 2 == 0) 16384 else -16384)
    val silence = Array.fill[Short](100)(0)
    val truncated = encodeWav16(8000, 1, square).take(50) // data chunk cut off
    val df = Seq(
      (1L, encodeWav16(8000, 1, square)),
      (2L, encodeWav16(44100, 2, silence)),
      (3L, truncated)).toDF("doc_id", "payload")
    val out = Multimodal.decodeMedia(df, "doc_id", "payload")
      .collect().map(d => d.id -> d).toMap
    val sq = out(1L)
    assert(sq.real_decode && sq.format == "wav" && sq.sample_rate == 8000 &&
      sq.channels == 1 && sq.n_samples == 8000L)
    assert(math.abs(sq.features(0)) < 0.001f)            // mean ~0
    assert(math.abs(sq.features(4) - 0.5f) < 0.001f)     // rms = amplitude
    assert(math.abs(sq.features(5) - 0.25f) < 0.01f)     // zcr: flips every 4
    val st = out(2L)
    assert(st.real_decode && st.channels == 2 && st.sample_rate == 44100 &&
      st.n_samples == 50L && st.features(4) == 0f)
    // truncated payload: sniffs wav but PCM decode fails -> stub, no throw
    val tr = out(3L)
    assert(!tr.real_decode && tr.format == "wav" && tr.n_samples == -1L)
  }

  test("multimodal: BMP top-down negative height reports magnitude") {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // biHeight = -50 (top-down); sniff must report 50, not -50
    val bmp = "BM".getBytes ++ new Array[Byte](16) ++
      bytes(100, 0, 0, 0, 0xce, 0xff, 0xff, 0xff) ++ new Array[Byte](4)
    val (fmt, w, h, _, _) = Multimodal.sniffMeta(bmp)
    assert(fmt == "bmp" && w == 100 && h == 50)
    // Int.MinValue height cannot overflow back to negative: stays sentinel
    val evil = "BM".getBytes ++ new Array[Byte](16) ++
      bytes(100, 0, 0, 0, 0, 0, 0, 0x80) ++ new Array[Byte](4)
    assert(Multimodal.sniffMeta(evil)._3 == -1)
  }

  test("gopherQuality: closed-form stats on a handcrafted document") {
    import spark.implicits._
    // 2 lines: a bullet line and an ellipsis line
    val text = "- the cat sat\nwith a ## hat..."
    val out = TextMetrics.gopherQuality(
      Seq((1L, text)).toDF("doc_id", "text"), "text", "doc_id").collect()(0)
    // whitespace-class tokens — 'sat' and 'with' are SEPARATE words even
    // though a newline, not a space, divides them:
    // ["-","the","cat","sat","with","a","##","hat..."]
    val nWords = 8
    assert(out.getAs[Long]("n_words") == nWords)
    // 1+3+3+3+4+1+2+6 = 23 word chars
    assert(out.getAs[Double]("mean_word_len") == 2.875)
    // the, cat, sat, with, a, hat... carry a letter; '-' and '##' don't
    assert(out.getAs[Double]("alpha_word_frac") == 0.75)
    assert(out.getAs[Long]("n_lines") == 2)
    assert(out.getAs[Double]("bullet_line_frac") == 0.5) // line 1 of 2
    assert(out.getAs[Double]("ellipsis_line_frac") == 0.5) // line 2 of 2
    // '##' = 2 hash chars, '...' = 1 occurrence → (2+1)/nWords
    assert(out.getAs[Double]("symbol_word_ratio") ==
      BigDecimal(3.0 / nWords).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    // 'the' AND 'with' hit — the newline before 'with' is a boundary now
    assert(out.getAs[Long]("stop_hits") == 2)
    assert(out.getAs[Long]("keep") == 0) // fails the 50-word minimum

    // boundary cases the published rules require: capitalized 'The' at
    // sentence start, 'of.' before punctuation, 'and' against a newline
    val tricky = "The dog. Best of.\nand so on"
    val t2 = TextMetrics.gopherQuality(
      Seq((1L, tricky)).toDF("doc_id", "text"), "text", "doc_id").collect()(0)
    assert(t2.getAs[Long]("stop_hits") == 3) // the, of, and
  }

  test("c4Rules: every line and page rule against closed forms") {
    import spark.implicits._
    val good = "this first sentence carries plenty of words today.\n" +
      "short one\n" + // < 5 words → dropped
      "enable javascript to view this page content now.\n" + // js → dropped
      "we updated our Privacy Policy terms for you today.\n" + // → dropped
      "a trailing line with many words but no terminal mark\n" + // → dropped
      "the second proper sentence also has enough words!\n" +
      "is this a third question sentence with enough words?"
    val out = TextMetrics.c4Rules(
      Seq((1L, good)).toDF("doc_id", "text"), "text", "doc_id").collect()(0)
    assert(out.getAs[Long]("n_lines") == 7)
    assert(out.getAs[Long]("n_kept_lines") == 3)
    // lines ending . ! ? or " : 1,3,4,6,7 → 5/7
    assert(out.getAs[Double]("punct_line_frac") == 0.7143)
    assert(out.getAs[Double]("short_line_frac") == 0.1429) // 'short one'
    assert(out.getAs[String]("clean_text") ==
      "this first sentence carries plenty of words today.\n" +
        "the second proper sentence also has enough words!\n" +
        "is this a third question sentence with enough words?")
    assert(out.getAs[Long]("n_sentences") == 3)
    assert(out.getAs[Long]("has_lorem") == 0 &&
      out.getAs[Long]("has_curly") == 0)
    assert(out.getAs[Long]("keep") == 1)

    // page rules: lorem ipsum, curly brace, and < 3 sentences each kill
    val keepOf = (s: String) => TextMetrics.c4Rules(
      Seq((1L, s)).toDF("doc_id", "text"), "text", "doc_id")
      .collect()(0).getAs[Long]("keep")
    val three = "one good sentence with the needed words here.\n" +
      "two good sentences with the needed words here.\n" +
      "three good sentences with the needed words here."
    assert(keepOf(three) == 1L)
    assert(keepOf(three + " Lorem ipsum") == 0L)
    assert(keepOf(three + " {") == 0L)
    assert(keepOf("only two sentences live in this document text.\n" +
      "and the second one is also fully punctuated here.") == 0L)
    // every line filtered away → empty clean_text, keep = 0, no NULLs
    val allBad = TextMetrics.c4Rules(
      Seq((1L, "short line\nno punct here")).toDF("doc_id", "text"),
      "text", "doc_id").collect()(0)
    assert(allBad.getAs[String]("clean_text") == "")
    assert(allBad.getAs[Long]("n_sentences") == 0)
    assert(allBad.getAs[Long]("keep") == 0)
  }

  test("chunkByBudget: words never split, text survives, budget bounds hold") {
    import spark.implicits._
    // 'aa' is 1 BPE token under the embedded merges? compute via the op
    // itself on single words to stay closed-form-free of the merge table
    val d = docs.limit(50)
    val out = TextMetrics.chunkByBudget(d, "text", "doc_id", budget = 16)
      .collect()
    val byDoc = out.groupBy(_.getAs[Long]("doc_id"))
    val orig = d.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    byDoc.foreach { case (id, chunks) =>
      val sorted = chunks.sortBy(_.getAs[Long]("chunk_id"))
      // reassembling the chunks in order restores the tokenized document
      val joined = sorted.map(_.getAs[String]("chunk_text")).mkString(" ")
      assert(joined == orig(id).trim.split("\\s+").filter(_.nonEmpty)
        .mkString(" "))
      // every chunk except the last reaches the budget window: its
      // n_bpe_tokens plus the NEXT chunk's first-word cost must exceed
      // the budget boundary — equivalently, cumulative starts align with
      // chunk_id * budget windows. Check the weaker invariant directly:
      // no two consecutive chunks could merge and stay under budget
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("n_bpe_tokens") +
            b.getAs[Long]("n_bpe_tokens") > 16,
            s"chunks ${a.getAs[Long]("chunk_id")}/${b.getAs[Long]("chunk_id")}" +
              s" of doc $id could merge under budget")
        case _ =>
      }
      // chunk ids ascend
      assert(sorted.map(_.getAs[Long]("chunk_id")).toSeq ==
        sorted.map(_.getAs[Long]("chunk_id")).sorted.toSeq)
    }
    // a single word longer than the budget still forms one chunk
    val big = Seq((1L, "abcdefghijklmnop qq")).toDF("doc_id", "text")
    val bo = TextMetrics.chunkByBudget(big, "text", "doc_id", budget = 2)
      .collect().sortBy(_.getAs[Long]("chunk_id"))
    assert(bo.map(_.getAs[String]("chunk_text")).toSeq ==
      Seq("abcdefghijklmnop", "qq"))
  }

  test("topKPerGroup: closed-form ranks, ties broken by the tiebreak col") {
    import spark.implicits._
    val df = Seq(("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 30.0),
      ("a", 4L, 20.0), ("b", 5L, 5.0)).toDF("g", "id", "v")
    val out = Profile.topKPerGroup(df, Seq("g"),
        Seq(col("v").desc, col("id").asc), 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getAs[Long]("rk")))
      .toSet
    // tie at v=30 breaks to the lower id; k=2 cuts id=4; group b keeps
    // its single row
    assert(out == Set(("a", 2L, 1L), ("a", 3L, 2L), ("b", 5L, 1L)))
    val e = intercept[IllegalArgumentException] {
      Profile.topKPerGroup(df, Seq("g"), Seq(col("v").desc), 0) }
    assert(e.getMessage.contains("k must be >= 1"))
  }

  test("coOccurrence: brute-force pairs, dup items collapse, support cuts") {
    import spark.implicits._
    // basket 1 holds x twice (must collapse), baskets overlap pairwise
    val df = Seq((1L, "x"), (1L, "x"), (1L, "y"), (1L, "z"),
      (2L, "x"), (2L, "y"), (3L, "y"), (3L, "z"), (4L, "x")).toDF("b", "i")
    val all = Profile.coOccurrence(df, "b", "i", minSupport = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(all == Set(("x", "y", 2L), ("x", "z", 1L), ("y", "z", 2L)))
    val cut = Profile.coOccurrence(df, "b", "i", minSupport = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(cut == Set(("x", "y", 2L), ("y", "z", 2L)))
    val plan = Profile.coOccurrence(df, "b", "i", 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"co-occurrence planned a product:\n$plan")
    intercept[IllegalArgumentException] { Profile.coOccurrence(df, "b", "i", 0) }
  }

  test("associationRules: hand-computed confidence and lift, both directions") {
    import spark.implicits._
    // N=4 baskets; n_x=3, n_y=3, n_z=2; pairs (x,y,2) (x,z,1) (y,z,2)
    val df = Seq((1L, "x"), (1L, "y"), (1L, "z"), (2L, "x"), (2L, "y"),
      (3L, "y"), (3L, "z"), (4L, "x")).toDF("b", "i")
    val got = Profile.associationRules(df, "b", "i", minSupport = 1)
      .select("antecedent", "consequent", "n_baskets", "confidence", "lift")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(got == Set(
      ("x", "y", 2L, 0.6667, 0.8889), ("y", "x", 2L, 0.6667, 0.8889),
      ("x", "z", 1L, 0.3333, 0.6667), ("z", "x", 1L, 0.5, 0.6667),
      ("y", "z", 2L, 0.6667, 1.3333), ("z", "y", 2L, 1.0, 1.3333)),
      s"rules diverged:\n$got")
  }

  test("transitionMatrix: hand-computed counts, row-normalized, ts ties by type") {
    import spark.implicits._
    val df = Seq((1L, 1L, "A"), (1L, 2L, "B"), (1L, 3L, "A"), (1L, 4L, "C"),
      (2L, 1L, "B"), (2L, 2L, "B"), (2L, 3L, "A"),
      (3L, 5L, "X"), (3L, 5L, "A"))  // equal ts: type tiebreak => A then X
      .toDF("u", "ts", "et")
    val got = Profile.transitionMatrix(df, "u", "ts", "et")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == Set(
      ("A", "B", 1L, 0.3333), ("A", "C", 1L, 0.3333), ("A", "X", 1L, 0.3333),
      ("B", "A", 2L, 0.6667), ("B", "B", 1L, 0.3333)))
  }

  test("bm25Scores: hand-computed scores; absent terms contribute zero") {
    import spark.implicits._
    // N=3, avgdl=2; df(a)=2, df(z)=0 (z must contribute 0 everywhere)
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "a")).toDF("id", "text")
    val got = TextMetrics.bm25Scores(docs, "text", "id", Seq("a", "z"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    // idf(a) = ln(1.6); d1: tf 2, dl 3 -> idf*4.4/3.65; d3: tf 1, dl 1
    // -> idf*2.2/1.75
    assert(got.toSeq == Seq((1L, 0.5666), (2L, 0.0), (3L, 0.5909)))
    intercept[IllegalArgumentException] {
      TextMetrics.bm25Scores(docs, "text", "id", Seq.empty) }
    intercept[IllegalArgumentException] {
      TextMetrics.bm25Scores(docs, "text", "id", Seq("a", "a")) }
  }

  test("invertedIndex: doc-ordered postings, df/cf, minDf cut") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "b c")).toDF("id", "text")
    val got = TextMetrics.invertedIndex(docs, "text", "id")
      .orderBy("term").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[String](3).toList))
    assert(got.toSeq == Seq(
      ("a", 1L, 2L, List("1:2")),
      ("b", 2L, 2L, List("1:1", "2:1")),
      ("c", 1L, 1L, List("2:1"))))
    val cut = TextMetrics.invertedIndex(docs, "text", "id", minDf = 2)
      .collect().map(_.getString(0))
    assert(cut.toSeq == Seq("b"))
  }

  test("rrfFuse: hand-computed fusion incl. one-list-only items") {
    import spark.implicits._
    val a = Seq((1L, 1L), (2L, 2L)).toDF("id", "rank")
    val b = Seq((2L, 1L), (3L, 2L)).toDF("id", "rank")
    val got = Similarity.rrfFuse(a, b, "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    // 1/61 = .016393…; 1/62 + 1/61 = .032522…; 1/62 = .016129
    assert(got.toSeq == Seq((1L, 0.016393), (2L, 0.032522), (3L, 0.016129)))
  }

  test("langIdModel: held-out sentences classified, edge cases total") {
    import spark.implicits._
    // every held-out sentence (disjoint from the seeds) detects its
    // language — the generalization property the gate relies on
    val held = TextMetrics.langIdHeldOut.zipWithIndex
      .map { case ((l, s), i) => (i.toLong, l, s) }
      .toDF("id", "true_lang", "text")
    val out = TextMetrics.langIdModel(held, "text", "id")
      .join(held.select("id", "true_lang"), "id").collect()
    assert(out.length == TextMetrics.langIdHeldOut.size)
    out.foreach(r => assert(
      r.getAs[String]("pred_lang") == r.getAs[String]("true_lang"),
      s"${r.getAs[String]("true_lang")} misread as ${r.getAs[String]("pred_lang")}"))
    // the seeds themselves are a fortiori correct
    val seeds = TextMetrics.langIdSeeds.zipWithIndex
      .map { case ((l, s), i) => (i.toLong, l, s) }.toDF("id", "true_lang", "text")
    TextMetrics.langIdModel(seeds, "text", "id")
      .join(seeds.select("id", "true_lang"), "id").collect()
      .foreach(r => assert(
        r.getAs[String]("pred_lang") == r.getAs[String]("true_lang")))
    // < 3 letters → no trigrams → absent; OOV junk → floor-only scores,
    // tie broken to the lexicographically first language, no crash
    val edge = Seq((1L, "ab"), (2L, "zzz qqq xxx"), (3L, "")).toDF("id", "text")
    val e = TextMetrics.langIdModel(edge, "text", "id").collect()
    assert(e.map(_.getAs[Long]("id")).toSet == Set(2L))
    // repartition invariance: round-before-rank pins the argmax
    val big = held.repartition(7)
    val a = TextMetrics.langIdModel(big, "text", "id")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("pred_lang")).toMap
    val b = TextMetrics.langIdModel(held.coalesce(1), "text", "id")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("pred_lang")).toMap
    assert(a == b)
  }

  test("QualityClassifier: separates held-out classes, prob orders them") {
    import spark.implicits._
    // deterministic synthetic corpora: "good" docs draw from an
    // informative vocabulary, "bad" docs from boilerplate junk, with a
    // shared filler word so the classes overlap lexically
    val goodV = Vector("theory", "method", "result", "evidence", "study")
    val badV = Vector("click", "buy", "cheap", "winner", "free")
    def doc(i: Int, v: Vector[String]) =
      (0 until 12).map(j => v((i * 7 + j * 3) % v.size)).mkString(" ") +
        " filler filler"
    val labeled = ((0 until 60).map(i => (i.toLong, doc(i, goodV), 1.0)) ++
      (0 until 60).map(i => (i.toLong + 100, doc(i, badV), 0.0)))
      .toDF("id", "text", "lbl")
    val train = labeled.filter(col("id") % 2 === 0)
    val test = labeled.filter(col("id") % 2 === 1)
    val m = QualityClassifier.train(train, "text", "lbl",
      buckets = 1 << 12, maxIter = 30)
    val scored = QualityClassifier.score(m, test, "text", "id")
      .join(test.select(col("id"), col("lbl")), "id").collect()
    // held-out accuracy: hard labels match the weak labels
    val acc = scored.count(r =>
      r.getAs[Long]("quality_label").toDouble == r.getAs[Double]("lbl")) *
      1.0 / scored.length
    assert(acc >= 0.95, s"held-out accuracy $acc")
    // probability separation: every good doc outscores every bad doc
    val gp = scored.filter(_.getAs[Double]("lbl") == 1.0)
      .map(_.getAs[Double]("quality_prob"))
    val bp = scored.filter(_.getAs[Double]("lbl") == 0.0)
      .map(_.getAs[Double]("quality_prob"))
    assert(gp.min > bp.max)

    // real corpus: weak label = lang=='en'; train on evens, score odds —
    // mean prob separates the held-out languages
    val weak = docs.withColumn("lbl", (col("lang") === "en").cast("double"))
    val m2 = QualityClassifier.train(weak.filter(col("doc_id") % 2 === 0),
      "text", "lbl", buckets = 1 << 14, maxIter = 20)
    val s2 = QualityClassifier.score(m2,
        docs.filter(col("doc_id") % 2 === 1), "text", "doc_id")
      .join(docs.select("doc_id", "lang"), "doc_id").collect()
    val en = s2.filter(_.getAs[String]("lang") == "en")
      .map(_.getAs[Double]("quality_prob"))
    val other = s2.filter(_.getAs[String]("lang") != "en")
      .map(_.getAs[Double]("quality_prob"))
    assert(en.sum / en.length > other.sum / other.length)
  }

  test("QualityClassifier.scoreLinear: closed-form sigmoid on a " +
    "hand-built model, empty doc scores the intercept, zero-weight " +
    "buckets contribute nothing") {
    import spark.implicits._
    // single-token docs: the bucket of each token is computable here
    // with the same md5 chain the operator uses
    def bucket(t: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 6)
      java.lang.Long.parseLong(hex, 16) % 64
    }
    val docs = Seq((1L, "alpha alpha beta"), (2L, ""), (3L, "gamma"))
      .toDF("id", "text")
    val w = Map(bucket("alpha") -> 0.3, bucket("beta") -> -0.2)
    val coeffs = w.toSeq.toDF("b", "w")
    val got = QualityClassifier.scoreLinear(docs, coeffs,
        intercept = 0.1, buckets = 64, "text", "id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    def sig(z: Double) = BigDecimal(1.0 / (1.0 + math.exp(-z)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((3L, sig(0.1 + 2 * 0.3 - 0.2))), s"${got(1L)}")
    assert(got(2L) == ((0L, sig(0.1))), "empty doc = sigmoid(intercept)")
    // gamma's bucket carries no weight -> only the intercept counts
    assert(got(3L) == ((1L, sig(0.1))), s"${got(3L)}")
  }

  test("QualityClassifier.trainPortable -> scoreLinear: one hash space " +
    "from fit to deployment separates the classes") {
    import spark.implicits._
    val goodV = Vector("theory", "method", "result", "evidence", "study")
    val badV = Vector("click", "buy", "cheap", "winner", "free")
    def doc(i: Int, v: Vector[String]) =
      (0 until 12).map(j => v((i * 7 + j * 3) % v.size)).mkString(" ") +
        " filler filler"
    val labeled = ((0 until 60).map(i => (s"g$i", doc(i, goodV), 1.0)) ++
      (0 until 60).map(i => (s"b$i", doc(i, badV), 0.0)))
      .toDF("id", "text", "lbl")
    val (coeffs, b0) = QualityClassifier.trainPortable(labeled, "text",
      "lbl", "id", buckets = 4096, maxIter = 30)
    val scored = QualityClassifier.scoreLinear(labeled, coeffs, b0,
        4096, "text", "id")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val gp = (0 until 60).map(i => scored(s"g$i"))
    val bp = (0 until 60).map(i => scored(s"b$i"))
    assert(gp.min > bp.max,
      s"portable train->score must separate: ${gp.min} vs ${bp.max}")
  }

  test("bucketByScore exact and approx: closed-form terciles agree") {
    import spark.implicits._
    // two groups, 9 distinct scores each → exact terciles are forced
    val scored = (for (g <- Seq("a", "b"); i <- 1 to 9)
      yield (g, i.toLong, (if (g == "a") i else 10 - i).toDouble))
      .toDF("grp", "id", "s")
    val exact = TextMetrics.bucketByScore(scored, "grp", "s", "id", 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Long]("bucket"))
      .toMap
    // group a: scores 1..9 → ids 7,8,9 are head
    assert(exact(("a", 9L)) == 1 && exact(("a", 6L)) == 2 && exact(("a", 1L)) == 3)
    // group b: scores reversed → ids 1,2,3 are head
    assert(exact(("b", 1L)) == 1 && exact(("b", 5L)) == 2 && exact(("b", 9L)) == 3)
    // approx with exact-regime accuracy on 9 values reproduces the cuts
    val approx = TextMetrics.bucketByScoreApprox(scored, "grp", "s", 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Long]("bucket"))
      .toMap
    assert(exact == approx)
  }

  test("ccnetBuckets: per-language terciles, head outscores tail") {
    val out = TextMetrics.ccnetBuckets(docs, "text", "doc_id", "lang")
    val rows = out.collect()
    // zero-token docs aside, every doc is bucketed and labels match ids
    assert(rows.forall { r =>
      val b = r.getAs[Long]("bucket")
      val l = r.getAs[String]("ppl_bucket")
      (b == 1L) == (l == "head") && (b == 3L) == (l == "tail")
    })
    // within every language the min head score >= max tail score
    rows.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      val head = rs.filter(_.getAs[Long]("bucket") == 1L)
        .map(_.getAs[Double]("avg_logp"))
      val tail = rs.filter(_.getAs[Long]("bucket") == 3L)
        .map(_.getAs[Double]("avg_logp"))
      assert(head.nonEmpty && tail.nonEmpty && head.min >= tail.max)
      // equal-population cut: bucket sizes differ by at most 1
      val sizes = rs.groupBy(_.getAs[Long]("bucket")).values.map(_.length)
      assert(sizes.max - sizes.min <= 1)
    }
    // approx mode: same direction guarantee on the same corpus
    val ap = TextMetrics.ccnetBuckets(docs, "text", "doc_id", "lang",
      approx = true).collect()
    ap.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      val byB = rs.groupBy(_.getAs[Long]("bucket"))
        .view.mapValues(_.map(_.getAs[Double]("avg_logp"))).toMap
      for (b <- byB.keys; c <- byB.keys if b < c)
        assert(byB(b).min >= byB(c).max)
    }
  }

  test("repetitionFull: every Table-A1 statistic against closed forms") {
    import spark.implicits._
    val d = Seq(
      // 7 lines (3 dup) / 3 paras (1 dup) / an 8-token run repeated once
      (1L, "a b c d e f g h a b c d e f g h\nx y\nx y\n\npp qq\n\npp qq"),
      (2L, "one two three four five six seven eight nine ten"),
      // overlapping 'hi yo' x5: top-gram coverage legitimately exceeds 1
      (3L, "hi yo hi yo hi yo hi yo hi yo")
    ).toDF("doc_id", "text")
    val out = TextMetrics.repetitionFull(d, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.toSeq.tail.map(_.asInstanceOf[Double])).toMap
    // doc 1, len 53: lines dup 3/7; dup line chars (3+5)/53; paras dup 1/3;
    // dup para chars 5/53; top 2/3/4-grams 'pp qq' 2*5, 'a b c' 2*5,
    // 'a b c d' 2*7; dup 5..8-grams all cover tokens 1..16 = 31 chars
    // (adjacent intervals MERGE, chars counted once); no dup 9/10-grams
    assert(out(1L) == Seq(0.4286, 0.1509, 0.3333, 0.0943,
      0.1887, 0.1887, 0.2642, 0.5849, 0.5849, 0.5849, 0.5849, 0.0, 0.0))
    // doc 2, len 49: nothing repeats; top n-gram is any single occurrence
    // (count 1), e.g. 'one two' 7 chars -> 0.2292 etc.
    assert(out(2L) == Seq(0.0, 0.0, 0.0, 0.0,
      0.2292, 0.3333, 0.4167, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
    // doc 3, len 29: 'hi yo' 5*5/29; 'hi yo hi' 4*8/29 > 1 (published
    // numerator double-counts overlapping occurrences - preserved);
    // all 10 tokens sit in a duplicated 5..8-gram -> full 29/29 coverage
    assert(out(3L) == Seq(0.0, 0.0, 0.0, 0.0,
      0.8621, 1.1034, 1.5172, 1.0, 1.0, 1.0, 1.0, 0.0, 0.0))
  }

  test("unigramLogProb: closed-form model on a tiny corpus") {
    import spark.implicits._
    // corpus tokens: a a a b — p(a)=3/4, p(b)=1/4
    val corpus = Seq((1L, "a a a"), (2L, "b")).toDF("doc_id", "text")
    val out = TextMetrics.unigramLogProb(corpus, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == 3 && out(2L)._1 == 1)
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._2 == r4(math.log(0.75)))
    assert(out(2L)._2 == r4(math.log(0.25)))
  }

  test("bigramLogProb: closed-form stupid backoff incl. backoff and OOV") {
    import spark.implicits._
    // model tokens: a b a -> N=3, c1(a)=2, c1(b)=1, c2(a,b)=1, c2(b,a)=1
    val model = Seq((0L, "a b a")).toDF("doc_id", "text")
    val docs = Seq((0L, "a b a"), (1L, "b b c"), (2L, ""), (3L, "a"))
      .toDF("doc_id", "text")
    val out = TextMetrics.bigramLogProb(docs, "text", "doc_id", model)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ln = (x: Double) => math.log(x)
    // doc 0: first ln(2/3), bigram hits ln(1/2) and ln(1/1)
    assert(out(0L) == ((3L, r4((ln(2.0 / 3) + ln(0.5) + ln(1.0)) / 3))))
    // doc 1: first ln(1/3), (b,b) unseen -> backoff ln(.4*1/3),
    // c OOV -> floor ln(.4*1/3... with c1 missing: ln(.4/3))
    assert(out(1L) == ((3L,
      r4((ln(1.0 / 3) + ln(0.4 * 1 / 3) + ln(0.4 / 3)) / 3))))
    // empty doc emits nothing; single-token doc is just the unigram term
    assert(!out.contains(2L))
    assert(out(3L) == ((1L, r4(ln(2.0 / 3)))))
    // self-model default: every bigram is its own model's -> no backoff,
    // deterministic under repartitioning
    val self = TextMetrics.bigramLogProb(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val self2 = TextMetrics.bigramLogProb(docs.repartition(5), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(self == self2 && self.keySet == Set(0L, 1L, 3L))
  }

  test("trigramLogProb: closed forms for every rung — trigram hit, both " +
    "backoffs, OOV floor, position rules") {
    import spark.implicits._
    // model [a b c a b c]: N=6, c1 all 2; c2 (a,b)=2 (b,c)=2 (c,a)=1;
    // c3 (a,b,c)=2 (b,c,a)=1 (c,a,b)=1
    val model = Seq((0L, "a b c a b c")).toDF("doc_id", "text")
    val docs = Seq((0L, "a b c a"), (1L, "b c b"), (2L, "z"), (3L, "c c"))
      .toDF("doc_id", "text")
    val out = TextMetrics.trigramLogProb(docs, "text", "doc_id", model)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ln = (x: Double) => math.log(x)
    // doc 0: uni ln(2/6); pos2 bigram ln(2/2); tri ln(2/2); tri ln(1/2)
    assert(out(0L) == ((4L, r4((ln(1.0 / 3) + 0 + 0 + ln(0.5)) / 4))))
    // doc 1: uni; pos2 bigram hit; pos3 (b,c)->b: no c3, no c2(c,b) ->
    // alpha^2 unigram
    assert(out(1L) == ((3L,
      r4((ln(1.0 / 3) + 0 + (ln(0.4 * 0.4) + ln(1.0 / 3))) / 3))))
    // OOV floor at position 1
    assert(out(2L) == ((1L, r4(ln(1.0 / 6)))))
    // position 2 starts at the bigram rung: (c,c) unseen -> ONE alpha
    assert(out(3L) == ((2L, r4((ln(1.0 / 3) + ln(0.4) + ln(1.0 / 3)) / 2))))
  }

  test("readability: closed-form Flesch, vowel-free words floor at one " +
    "syllable, empty doc scores NULL") {
    import spark.implicits._
    val df = Seq((1L, "The cat. It ran!"), (2L, "bcd 123"), (3L, ""))
      .toDF("doc_id", "text")
    val out = TextMetrics.readability(df, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    // 4 words, 2 sentences, 4 vowel groups:
    // 206.835 - 1.015*2 - 84.6*1 = 120.205
    assert(out(1L) == ((4L, 2L, 4L, Some(120.205))))
    // no vowels anywhere: 2 words floor to 2 syllables, 1 sentence floor
    assert(out(2L) == ((2L, 1L, 2L, Some(120.205))))
    assert(out(3L) == ((0L, 1L, 0L, None)))
  }

  test("scriptProfile: per-class counts on a JSON-ish string, tie " +
    "precedence letter > digit > punct") {
    import spark.implicits._
    val df = Seq((1L, "{\"k\": 69}"), (2L, "a1"), (3L, "é!"))
      .toDF("id", "s")
    val out = TextMetrics.scriptProfile(df, "s", "id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7)))).toMap
    // {"k": 69} -> 9 chars: 1 letter, 2 digits, 1 space, 5 punct
    assert(out(1L) == ((9L, 1L, 2L, 1L, 5L, 0L, "punct")))
    // tie 1-1 between letter and digit: letter precedence
    assert(out(2L) == ((2L, 1L, 1L, 0L, 0L, 0L, "letter")))
    // non-ASCII is 'other'; tie 1-1 punct vs other: punct precedence
    assert(out(3L) == ((2L, 0L, 0L, 0L, 1L, 1L, "punct")))
  }

  test("charEntropy: closed form, degenerate and empty alphabets are 0") {
    import spark.implicits._
    val df = Seq((1L, "aab"), (2L, "aaa"), (3L, "")).toDF("id", "s")
    val out = TextMetrics.charEntropy(df, "s", "id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    // H(aab) = ln3 - (2 ln2)/3 = 0.6365; norm = 0.6365/ln2 = 0.9183
    assert(out(1L) == ((3L, 2L, 0.6365, 0.9183)))
    assert(out(2L) == ((3L, 1L, 0.0, 0.0)))
    assert(out(3L) == ((0L, 0L, 0.0, 0.0)))
  }

  test("lengthBucketPlan: power-of-two ladder closed form, cap rung " +
    "absorbs the tail, empty docs excluded") {
    import spark.implicits._
    def words(n: Int) = (0 until n).map(i => s"w$i").mkString(" ")
    val df = Seq(words(1), words(2), words(3), words(8), words(9),
      words(100), "").toDF("text")
    val got = TextMetrics.lengthBucketPlan(df, "text", maxSeqLen = 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((1L, 1L, 1L, 0.0))) // n=1: zero waste
    assert(got(2L) == ((1L, 2L, 2L, 0.0)))
    assert(got(4L) == ((1L, 3L, 4L, 0.25))) // n=3 in the 4-rung
    // n=8 exact fit and n=9 share the ladder boundary correctly
    assert(got(8L) == ((1L, 8L, 8L, 0.0)))
    // n=9 and the capped n=100 both land in the 16 cap rung; tokens
    // clamp at the cap (the truncation a fixed context imposes)
    assert(got(16L) == ((2L, 9L + 16L, 32L, 0.2188)))
    assert(!got.contains(0L)) // the empty doc carries no sequence
  }

  test("leakageSafeSplit: identical content ALWAYS lands in one split, " +
    "id-keyed split provably leaks on the same corpus") {
    import spark.implicits._
    // 200 docs over 40 distinct texts: each text has 5 duplicate ids
    val docs = (0 until 200).map(i => (i.toLong, s"text-${i % 40}"))
      .toDF("doc_id", "text")
    val safe = Sampling.leakageSafeSplit(docs,
        leakKey = org.apache.spark.sql.functions.md5(col("text")))
      .select("text", "split").collect()
      .map(r => r.getString(0) -> r.getString(1))
    val byText = safe.groupBy(_._1).values
    assert(byText.forall(g => g.map(_._2).distinct.length == 1),
      "every duplicate set must co-locate")
    assert(safe.map(_._2).distinct.length > 1,
      "fixture must actually split across classes")
    // the id-keyed split leaks on this corpus: some text straddles
    val leaky = Sampling.splitAssign(docs, "doc_id")
      .select("text", "split").collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(leaky.groupBy(_._1).values
        .exists(g => g.map(_._2).distinct.length > 1),
      "the control must demonstrate the leak the operator closes")
  }

  test("describeStrings: nulls vs blanks distinguished, exact " +
    "cardinality, dominant value with lexicographic ties") {
    import spark.implicits._
    val df = Seq(Some("a"), Some("a"), Some("b"), Some(""), Some("  "),
      None).toDF("c")
    val r = Profile.describeStrings(df, Seq("c")).collect().head
    assert(r.getString(0) == "c" && r.getLong(1) == 6)
    assert(r.getLong(2) == 1, "one null")
    assert(r.getLong(3) == 2, "'' and whitespace-only are blanks")
    assert(r.getLong(4) == 4, "distinct over non-null: a, b, '', '  '")
    assert(r.getLong(5) == 0 && r.getLong(6) == 2, "length spread")
    assert(r.getString(7) == "a" && r.getDouble(8) == 0.4,
      s"top a with share 2/5: $r")
    // tie on top counts: lexicographically first value wins
    val t = Profile.describeStrings(
      Seq("x", "y").toDF("c"), Seq("c")).collect().head
    assert(t.getString(7) == "x")
  }

  test("langMix: pure doc unanimous, half-and-half splits 50/50, " +
    "marker-free text reads und, majority ties break alphabetically") {
    import spark.implicits._
    def run(rows: Seq[(Long, String)], w: Int) =
      TextMetrics.langMix(rows.toDF("doc_id", "text"), "text", "doc_id", w)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4))))
        .toMap
    val en = Seq.fill(12)("word the and of x").mkString(" ")   // 60 tokens
    val de = Seq.fill(12)("wort der und die y").mkString(" ")
    val got = run(Seq(
      (1L, en),                        // 60 en tokens -> 2 chunks, pure
      (2L, en + " " + de),             // 121 tokens: en, en/de?, de
      (3L, "zz qq ww")), w = 30)
    assert(got(1L) == ((2L, 1L, "en", 1.0)), s"${got(1L)}")
    assert(got(3L) == ((1L, 1L, "und", 1.0)), s"${got(3L)}")
    val (nc, nl, mj, cons) = got(2L)
    assert(nc == 4 && nl == 2 && cons < 1.0,
      s"mixed doc must show its mix: ${got(2L)}")
    // tie: equal chunk counts for two languages -> alphabetically first
    val tied = run(Seq((9L, en.split(" ").take(30).mkString(" ") + " " +
      de.split(" ").take(30).mkString(" "))), w = 30)
    assert(tied(9L)._1 == 2 && tied(9L)._3 == "de" && tied(9L)._4 == 0.5,
      s"${tied(9L)}")
  }

  test("weightedQuantiles: weighted CDF inverse closed form, equal " +
    "weights reduce to the lower-value convention, weight shifts the " +
    "median, bad weights excluded") {
    import spark.implicits._
    // values 1..4, weight 10 on value 4: F(1)=1/13, F(2)=2/13,
    // F(3)=3/13, F(4)=1 -> median = 4 (weight drags it up)
    val df = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (4.0, 10.0),
      (99.0, 0.0)).map { case (v, w) => ("g", v, w) }.toDF("g", "v", "w")
    val got = Profile.weightedQuantiles(df, "g", "v", "w",
        ps = Seq(0.1, 0.25, 0.5, 1.0))
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(got == Map(0.1 -> 2.0, 0.25 -> 4.0, 0.5 -> 4.0, 1.0 -> 4.0),
      s"$got")  // F(1)=.0769 < .1 -> q(.1)=2
    // equal weights: min x with rank/n >= p (lower-value convention)
    val eq = (1 to 4).map(i => ("e", i.toDouble, 1.0)).toDF("g", "v", "w")
    val ge = Profile.weightedQuantiles(eq, "g", "v", "w",
        ps = Seq(0.25, 0.5, 0.75))
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(ge == Map(0.25 -> 1.0, 0.5 -> 2.0, 0.75 -> 3.0), s"$ge")
  }

  test("weightedStats: hand-computed weighted moments and Kish ESS, " +
    "equal weights reduce to population stats, bad weights excluded") {
    import spark.implicits._
    val df = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 2.0),
      (99.0, 0.0), (99.0, -1.0))  // zero/negative weights: excluded
      .toDF("x", "w")
    val r = Profile.weightedStats(df, "w", Seq("x")).collect().head
    // sw=4, mu=2.25, var=5.75-5.0625=.6875, ess=16/6
    assert(r.getLong(1) == 3 && r.getDouble(2) == 4.0)
    assert(r.getDouble(3) == 2.67)                      // ESS 2dp
    assert(r.getDouble(4) == 2.25)
    assert(math.abs(r.getDouble(5) - math.sqrt(0.6875)) < 5e-5)
    val se = math.sqrt(0.6875 / (16.0 / 6.0))
    assert(math.abs(r.getDouble(6) - se) < 5e-5)
    assert(math.abs(r.getDouble(7) - (2.25 - 1.96 * se)) < 5e-5)
    // equal weights: mean/sd match the unweighted population stats
    val eq = Seq(1.0, 2.0, 3.0, 4.0).map((_, 1.0)).toDF("x", "w")
    val re = Profile.weightedStats(eq, "w", Seq("x")).collect().head
    assert(re.getDouble(4) == 2.5 &&
      math.abs(re.getDouble(5) - math.sqrt(1.25)) < 5e-5)
    assert(re.getDouble(3) == 4.0, "equal weights: ESS == n")
  }

  test("trendTest: perfect trend reads tau = 1 with the exact slope, " +
    "a spike barely moves Theil-Sen, flat series reads tau = 0") {
    import spark.implicits._
    // strictly increasing x = 3 + 2t: every pair sign +1
    val up = (0 until 10).map(t => ("up", t.toLong, 3.0 + 2.0 * t))
    // same trend with one huge spike at t=5 (the OLS breaker)
    val sp = (0 until 10).map(t =>
      ("sp", t.toLong, 3.0 + 2.0 * t + (if (t == 5) 1000.0 else 0.0)))
    val flat = (0 until 6).map(t => ("fl", t.toLong, 7.0))
    val df = (up ++ sp ++ flat).toDF("k", "t", "x")
    val got = Profile.trendTest(df, "k", "t", "x")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(got("up") == ((10L, 45L, 45L, 1.0, 2.0)), s"${got("up")}")
    // spike: 9 of 45 pairs touch t=5; the median pairwise slope is
    // still the underlying 2.0
    val (n, np, s, tau, slope) = got("sp")
    assert(n == 10 && np == 45L && slope == 2.0, s"${got("sp")}")
    assert(tau > 0.5, s"spiked series keeps a strong positive tau: $tau")
    // constant series: every sign 0
    assert(got("fl")._3 == 0L && got("fl")._4 == 0.0 &&
      got("fl")._5 == 0.0, s"${got("fl")}")
  }

  test("prfExpansionTerms: feedback comes from top-BM25 docs only, " +
    "query terms excluded, closed-form scores, zero-score docs opt out") {
    import spark.implicits._
    val docs = Seq(
      (1L, "query alpha alpha beta"),   // matches: feedback
      (2L, "query alpha gamma"),        // matches: feedback
      (3L, "delta delta delta"),        // no query term: never feedback
      (4L, "beta epsilon")              // no query term
    ).toDF("doc_id", "text")
    val got = TextMetrics.prfExpansionTerms(docs, "text", "doc_id",
        query = Seq("query"), kDocs = 2, kTerms = 5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    // feedback = docs 1, 2; candidate terms alpha (tf 3), beta (1), gamma (1)
    assert(got.keySet == Set("alpha", "beta", "gamma"),
      s"delta (non-feedback) and 'query' must be absent: ${got.keySet}")
    def s(tf: Double, df: Long) = BigDecimal(tf * math.log(5.0 / (df + 1)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("alpha") == ((2L, s(3, 2), 1L)), s"${got("alpha")}")
    assert(got("gamma") == ((1L, s(1, 1), 2L)), s"${got("gamma")}")
    // beta: tf 1, df 2 (docs 1 and 4) -> lower idf than gamma
    assert(got("beta") == ((2L, s(1, 2), 3L)), s"${got("beta")}")
  }

  test("allocateQuota: sums to the budget exactly, largest remainders " +
    "win the leftovers, deterministic ties") {
    import spark.implicits._
    // counts 5/3/2 over budget 7: raw 3.5/2.1/1.4, bases 3/2/1 (sum 6),
    // one leftover -> largest remainder .5 (domain a) takes it
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c"))
      .toDF("d")
    val got = Sampling.allocateQuota(df, "d", budget = 7L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got == Map("a" -> 4L, "b" -> 2L, "c" -> 1L), s"$got")
    assert(got.values.sum == 7L)
    // exactness holds across a budget sweep incl. budget > N
    Seq(0L, 1L, 9L, 10L, 23L).foreach { b =>
      val q = Sampling.allocateQuota(df, "d", b)
        .collect().map(_.getLong(2)).sum
      assert(q == b, s"budget $b allocated $q")
    }
    // tie on remainders: equal counts -> lexicographically first wins
    val tie = (Seq.fill(2)("x") ++ Seq.fill(2)("y")).toDF("d")
    val tq = Sampling.allocateQuota(tie, "d", 3L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(tq == Map("x" -> 2L, "y" -> 1L), s"$tq")
  }

  test("standardize: closed-form robust and classic scaling, zero " +
    "spread goes NULL, NULLs pass through") {
    import spark.implicits._
    val df = ((1 to 9).map(i => (Some(i.toDouble), Some(7.0))) :+
      ((Option.empty[Double], Some(7.0)))).toDF("x", "c")
    // robust: median 5, IQR = 7 - 3 = 4 on 1..9 (quantile_cont exact)
    val rb = Profile.standardize(df, Seq("x", "c"), robust = true)
      .collect()
    val xs = rb.flatMap(r => Option(r.get(2)).map(_.asInstanceOf[Double]))
    assert(xs.length == 9 && rb.count(_.isNullAt(2)) == 1,
      "NULL input must stay NULL")
    assert(xs.contains(1.0) && xs.contains(-1.0),  // x=9 and x=1
      s"robust closed form: $xs")
    assert(rb.forall(_.isNullAt(3)), "constant column (IQR 0) -> NULL")
    // classic: mean 5, stddev_samp over 1..9 = sqrt(60/8) = 2.738613
    val cl = Profile.standardize(df, Seq("x"), robust = false).collect()
    val top = cl.flatMap(r => Option(r.get(2)).map(_.asInstanceOf[Double]))
      .max
    assert(math.abs(top - 4.0 / 2.738613) < 1e-5, s"classic z: $top")
  }

  test("negativeSample: closed-form md5 draws, positive-collision " +
    "advances one rank, k rows per pair, partitioning-independent") {
    import spark.implicits._
    val corpus = (0 until 10).map(i => s"c$i").toDF("id")
    val pairs = Seq(("q1", "c3"), ("q2", "c7"), ("q3", "c0"))
      .toDF("q", "p")
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val ranked = (0 until 10).map(i => s"c$i").sorted // string order
    def expected(q: String, p: String, j: Int, seed: Long): String = {
      val d = (java.lang.Long.parseLong(
        md5hex(s"$seed|$q|$j").substring(0, 12), 16) % 10).toInt
      val pr = ranked.indexOf(p)
      ranked(if (d == pr) (d + 1) % 10 else d)
    }
    val got = Sampling.negativeSample(pairs, "q", "p", corpus, "id",
        k = 6, seed = 42L)
      .collect().map(r => (r.getString(0), r.getLong(2)) ->
        ((r.getString(1), r.getString(3)))).toMap
    assert(got.size == 18, "3 pairs x 6 slots")
    got.foreach { case ((q, j), (p, neg)) =>
      assert(neg != p, s"negative equals positive at ($q, $j)")
      assert(neg == expected(q, p, j.toInt, 42L),
        s"($q, $j): $neg vs ${expected(q, p, j.toInt, 42L)}")
    }
    // partitioning must not change a single draw
    val again = Sampling.negativeSample(pairs.repartition(5), "q", "p",
        corpus.repartition(7), "id", k = 6, seed = 42L)
      .collect().map(r => (r.getString(0), r.getLong(2)) ->
        ((r.getString(1), r.getString(3)))).toMap
    assert(again == got)
    // the collision-advance branch genuinely fires somewhere in a
    // sweep of positives (every rank is someone's positive)
    val sweep = (0 until 10).map(i => (s"s$i", s"c$i")).toDF("q", "p")
    val sw = Sampling.negativeSample(sweep, "q", "p", corpus, "id",
        k = 8, seed = 42L).collect()
    assert(sw.forall(r => r.getString(3) != r.getString(1)))
  }

  test("cmsSketch/cmsEstimate: one-sided for EVERY value, exact at " +
    "collision-free width, unseen values estimate 0, merge = concat") {
    import spark.implicits._
    val vals = (0 until 500).map(i => s"v${i % 37}") // skewed counts
    val df = vals.toDF("x")
    val exact = vals.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // narrow sketch: real collisions, but NEVER an undercount (the
    // CMS theorem — min over rows only ever adds strangers' mass)
    val skNarrow = Profile.cmsSketch(df, "x", depth = 3, width = 16)
    val estN = Profile.cmsEstimate(skNarrow,
        exact.keys.toSeq.toDF("x"), "x", depth = 3, width = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (v, n) =>
      assert(estN(v) >= n, s"undercount at $v: ${estN(v)} < $n") }
    // wide sketch: 37 values over 4096 buckets x 3 rows — exact unless
    // all three rows collide somewhere (essentially impossible and
    // deterministic: this corpus either passes forever or never)
    val skWide = Profile.cmsSketch(df, "x", depth = 3, width = 4096)
    val estW = Profile.cmsEstimate(skWide,
        exact.keys.toSeq.toDF("x"), "x", depth = 3, width = 4096)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estW == exact, "wide sketch must be exact on this corpus")
    // a value the sketch never saw estimates 0, not NULL
    val unseen = Profile.cmsEstimate(skWide, Seq("never").toDF("x"), "x",
        depth = 3, width = 4096)
      .collect().head
    assert(unseen.getLong(1) == 0L)
    // mergeability: sketch(A ++ B) == per-cell sum of the two sketches
    val (a, b) = (vals.take(200), vals.drop(200))
    val merged = Profile.cmsSketch(a.toDF("x"), "x", 3, 16)
      .unionAll(Profile.cmsSketch(b.toDF("x"), "x", 3, 16))
      .groupBy("row", "bucket")
      .agg(org.apache.spark.sql.functions.sum("n").as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val whole = skNarrow.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == whole, "counts must merge cell-wise")
  }

  test("unigramDrift: identical corpora read zero, shifted corpora " +
    "read positive, JS symmetric and within ln 2, closed-form bucket") {
    import spark.implicits._
    val a = Seq("alpha alpha beta", "beta gamma").toDF("text")
    val b = Seq("alpha delta delta", "delta gamma gamma").toDF("text")
    def sums(df: org.apache.spark.sql.DataFrame) = {
      val rows = df.collect()
      (rows.map(_.getDouble(5)).sum, rows.map(_.getDouble(6)).sum)
    }
    // same corpus on both sides: every bucket has p == q -> 0 exactly
    val (kl0, js0) = sums(TextMetrics.unigramDrift(a, a, "text", 16))
    assert(kl0 == 0.0 && js0 == 0.0)
    // real shift: both positive, JS within its ln 2 bound and symmetric
    val ab = TextMetrics.unigramDrift(a, b, "text", 16)
    val (klAb, jsAb) = sums(ab)
    assert(klAb > 0.0 && jsAb > 0.0 && jsAb <= math.log(2.0) + 1e-12)
    val (_, jsBa) = sums(TextMetrics.unigramDrift(b, a, "text", 16))
    assert(math.abs(jsAb - jsBa) < 1e-9, "JS must be symmetric")
    // closed-form check of one bucket: 'alpha' appears 2x in ref (of 5
    // tokens), 1x in cur (of 6); with Laplace over 16 buckets
    def bucket(t: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 6)
      java.lang.Long.parseLong(hex, 16) % 16
    }
    val distinctBuckets = Seq("alpha", "beta", "gamma", "delta")
      .map(bucket).distinct
    assume(distinctBuckets.size == 4, "fixture tokens must not collide")
    val row = ab.filter(col("bucket") === bucket("alpha")).collect().head
    val p = (2 + 1.0) / (5 + 16)
    val q = (1 + 1.0) / (6 + 16)
    def r8(x: Double) = BigDecimal(x)
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getLong(1) == 2L && row.getLong(2) == 1L)
    assert(row.getDouble(5) == r8(q * math.log(q / p)), s"$row")
  }

  test("dsirWeights: closed-form at buckets=1, target separation, determinism") {
    import spark.implicits._
    // buckets=1 collapses every token to one bucket: logw(doc) =
    // n_tokens * (ln((nt+1)/(nt+1)) - ln((nr+1)/(nr+1))) ... with the
    // actual counts: ct=nt (every target token in bucket 0), cr=nr
    val corpus = Seq((1L, "a a a"), (2L, "b b")).toDF("doc_id", "text")
    val target = Seq((1L, "a a a")).toDF("doc_id", "text")
    val got1 = TextMetrics.dsirWeights(corpus, target, "text", "doc_id", 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // cr=5, nr=5, ct=3, nt=3 -> lr = ln(4/4) - ln(6/6) = 0 exactly
    assert(got1 == Map(1L -> ((3L, 0.0)), 2L -> ((2L, 0.0))))
    // with real buckets, docs made of target-domain tokens outscore docs
    // of target-absent tokens
    val corpus2 = (Seq((1L, "alpha beta gamma"), (2L, "alpha beta beta")) ++
      Seq((3L, "omega psi chi"), (4L, "psi psi omega"))).toDF("doc_id", "text")
    val target2 = Seq((10L, "alpha beta gamma alpha")).toDF("doc_id", "text")
    val w = TextMetrics.dsirWeights(corpus2, target2, "text", "doc_id", 4096)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(Seq(1L, 2L).map(w).min > Seq(3L, 4L).map(w).max,
      s"target-domain docs must outscore: $w")
    // partitioning-independent
    val again = TextMetrics.dsirWeights(corpus2.repartition(7), target2,
        "text", "doc_id", 4096)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(again == w)
  }

  test("extractUrls + domainProfile: extraction, counts, blocklist flag") {
    import spark.implicits._
    val d = Seq(
      (1L, "see https://a.example.com/x and http://bad.org/y too"),
      (2L, "https://a.example.com/z plain text no more urls"),
      (3L, "no urls here at all"),
      (4L, "sentence ends with the url http://bad.org.")).toDF("doc_id", "text")
    val urls = TextMetrics.extractUrls(d, "text", "doc_id")
    assert(urls.count() == 4)
    // the sentence period is NOT part of the domain
    assert(urls.filter(col("doc_id") === 4).collect()(0)
      .getAs[String]("domain") == "bad.org")
    // duplicate blocklist entries must not duplicate profile rows
    val profile = TextMetrics.domainProfile(urls, "doc_id",
        Seq("bad.org", "bad.org").toDF("domain"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(profile.size == 2)
    assert(profile("a.example.com") == ((2L, 2L, 0L)))
    assert(profile("bad.org") == ((2L, 2L, 1L)))
  }

  test("topValues exact heavy hitters; CMS estimates bounded one-sided") {
    import spark.implicits._
    val tok = docs
      .select(explode(split(col("text"), " ", -1)).as("value"))
      .filter(col("value") =!= "")
    val top = Profile.topValues(tok, "value", 10).collect()
    assert(top.length == 10)
    // descending counts, ties broken by value ascending
    val pairs = top.map(r => (r.getLong(1), r.getString(0)))
    assert(pairs.sameElements(pairs.sortBy { case (n, v) => (-n, v) }))
    // CMS: estimate >= truth, and <= truth + eps * N (w.h.p.)
    val n = tok.count()
    val est = Profile.cmsEstimates(tok, "value",
      top.map(_.getString(0)).toSeq, eps = 0.001).toMap
    top.foreach { r =>
      val (v, truth) = (r.getString(0), r.getLong(1))
      assert(est(v) >= truth, s"CMS under-counted $v: ${est(v)} < $truth")
      assert(est(v) <= truth + (0.001 * n).toLong + 1,
        s"CMS over-counted $v beyond eps*N: ${est(v)} vs $truth")
    }
  }

  test("crossDocSpans: shared spans flagged at any alignment, unique text silent") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"w$i").mkString(" ") // 12 shared tokens
    val d = Seq(
      (1L, s"$shared alpha beta gamma"),
      (2L, s"pre1 pre2 $shared delta"), // shared block at offset 2
      (3L, "entirely different words that never repeat anywhere else here yes")
    ).toDF("doc_id", "text")
    val out = Dedup.crossDocSpans(d, "text", "doc_id", n = 10, stride = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 3 must be silent; docs 1 and 2 must flag the shared 12-token
    // block's three 10-gram spans at their RESPECTIVE offsets
    assert(!out.exists(_._1 == 3L))
    assert(Set((1L, 1L), (1L, 2L), (1L, 3L)).subsetOf(out))
    assert(Set((2L, 3L), (2L, 4L), (2L, 5L)).subsetOf(out))
    // no span beyond the shared block is flagged
    assert(out.forall { case (id, p) =>
      (id == 1L && p <= 3) || (id == 2L && p >= 3 && p <= 5) })
  }

  test("maskRepeatedSpans: shared block cut, unique text byte-identical") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, s"$shared alpha beta gamma"),
      (2L, s"pre1 pre2 $shared delta"),
      (3L, "entirely different words that never repeat anywhere else here yes")
    ).toDF("doc_id", "text")
    val out = Dedup.maskRepeatedSpans(d, "text", "doc_id", n = 10, stride = 1)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // doc 3 passes through byte-identical, zero removed
    assert(out(3L) == (("entirely different words that never repeat " +
      "anywhere else here yes", 0L)))
    // docs 1 and 2: the shared 12 tokens vanish, unique remainder survives
    assert(out(1L) == (("alpha beta gamma", 12L)))
    assert(out(2L) == (("pre1 pre2 delta", 12L)))
  }

  test("maskRepeatedSpans: dense coverage on long docs stays linear") {
    import spark.implicits._
    // two identical 30k-token documents — EVERY position is covered by a
    // flagged span, the worst case for the cut. The former per-position
    // array_contains form was O(T·C) ≈ 9e8 comparisons per doc here; the
    // interval-merge cut is O(C log C + T) and completes in seconds.
    val tokens = 30000
    val t1 = (0 until tokens).map(i => s"t${i % 977}_${i / 977}").mkString(" ")
    val d = Seq((1L, t1), (2L, t1)).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val out = Dedup.maskRepeatedSpans(d, "text", "doc_id", n = 10, stride = 1)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    // full coverage: everything cut, nothing left
    assert(out(1L) == (("", tokens.toLong)))
    assert(out(2L) == (("", tokens.toLong)))
    assert(secs < 120, f"dense-coverage cut took $secs%.1f s — not linear")

    // partial coverage with a mid-doc gap: two flagged runs merge into
    // two intervals, and the three uncovered gaps survive in order
    val uniqA = (0 until 40).map(i => s"ua$i").mkString(" ")
    val uniqB = (0 until 40).map(i => s"ub$i").mkString(" ")
    val uniqC = (0 until 40).map(i => s"uc$i").mkString(" ")
    val shared1 = (0 until 15).map(i => s"s$i").mkString(" ")
    val shared2 = (0 until 15).map(i => s"z$i").mkString(" ")
    val d2 = Seq(
      (1L, s"$uniqA $shared1 $uniqB $shared2 $uniqC"),
      (2L, s"$shared1 $shared2")).toDF("doc_id", "text")
    val out2 = Dedup.maskRepeatedSpans(d2, "text", "doc_id", n = 10, stride = 1)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out2(1L) == ((s"$uniqA $uniqB $uniqC", 30L)))
    assert(out2(2L) == (("", 30L)))
  }

  test("cdcChunk: chunks reassemble exactly; boundaries are content-defined " +
      "(prefix edit leaves later chunks intact)") {
    import spark.implicits._
    val base = docs.limit(50).select("doc_id", "text")
    val out = TextMetrics.cdcChunk(base, "text", "doc_id", window = 8)
    // 1. reassembly: concatenating chunks in order reproduces every doc
    val rebuilt = out.orderBy("doc_id", "chunk_id")
      .groupBy("doc_id")
      .agg(concat_ws("", collect_list(col("chunk_text"))).as("r"))
      .join(base, "doc_id")
      .filter(col("r") =!= col("text"))
    assert(rebuilt.count() == 0, "chunk reassembly diverged from the text")
    // 2. the CDC property: prepend an edit — every chunk except the ones
    // touching the perturbed head must survive unchanged (fixed-offset
    // chunking would shift ALL of them)
    val edited = base.select(col("doc_id"),
      concat(lit("EDITED HEAD "), col("text")).as("text"))
    val editedChunks = TextMetrics.cdcChunk(edited, "text", "doc_id", 8)
      .select(col("doc_id"), col("chunk_text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val tailChunks = out.filter(col("chunk_id") >= 1)
      .select(col("doc_id"), col("chunk_text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val survived = tailChunks.count(editedChunks.contains)
    assert(tailChunks.nonEmpty &&
      survived >= (tailChunks.length * 0.95).toInt,
      s"only $survived/${tailChunks.length} post-head chunks survived a " +
        "head edit — boundaries are not content-defined")
  }

  test("dedupCorpus one-call chain: exact copies and near-dups collapse, " +
      "uniques survive") {
    val base = docs.limit(40).select("doc_id", "text")
    // exact copies (new ids) AND near-dups (appended tail) of the base
    val copies = base.select((col("doc_id") + 200000).as("doc_id"), col("text"))
    val nears = base.select((col("doc_id") + 400000).as("doc_id"),
      concat(col("text"), lit(" small appended tail")).as("text"))
    val corpus = base.unionAll(copies).unionAll(nears)
    val kept = Dedup.dedupCorpus(corpus, "text", "doc_id")
    Dedup.unpersistAll(spark)
    val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    // exact copies always die (higher id); near-dups die for every pair
    // minhash catches (>= 75% by the banding recall the pair spec pins)
    assert(!ids.exists(id => id >= 200000 && id < 400000))
    // most base docs survive; a few may be natural near-dups of OTHER
    // base docs and lose the min-id election to them — correct behavior
    assert(ids.count(_ < 200000) >= 35,
      s"too few base survivors: ${ids.count(_ < 200000)}/40")
    assert(ids.count(_ >= 400000) <= 10,
      s"near-dup survivors should be rare, got ${ids.count(_ >= 400000)}")
    // schema passes through untouched
    assert(kept.columns.toSeq == Seq("doc_id", "text"))
  }

  test("urlDedup: canonical variants collapse to one key, min-id election") {
    import spark.implicits._
    val variants = Seq(
      (1L, "https://www.Site.Example.com/a/b?q=1#frag"),
      (2L, "HTTP://site.example.com/a/b/"),
      (3L, "https://site.example.com/a/b"),
      (4L, "http://www.site.example.com/a/b#x"),
      (5L, "https://other.example.com/a/b")).toDF("doc_id", "url")
    val out = Dedup.urlDedup(variants, "url", "doc_id")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size == 2)
    assert(out("site.example.com/a/b") == ((1L, 4L)))
    assert(out("other.example.com/a/b") == ((5L, 1L)))
  }

  test("urlDedup: null / empty-canonical URLs survive as singletons, never one group") {
    import spark.implicits._
    val rows = Seq(
      (1L, "https://site.example.com/x"),
      (2L, "http://www.site.example.com/x/"),
      (3L, null: String),          // no URL at all
      (4L, null: String),          // unrelated doc, also no URL
      (5L, "https://"),            // canonicalizes to the empty string
      (6L, "http://www.")).toDF("doc_id", "url")
    val out = Dedup.urlDedup(rows, "url", "doc_id").collect()
    // one real group (docs 1+2) + four singletons; docs 3..6 all survive
    assert(out.length == 5)
    val keep = out.map(_.getLong(1)).sorted
    assert(keep.toSeq == Seq(1L, 3L, 4L, 5L, 6L))
    assert(out.filter(_.getLong(1) >= 3L).forall(_.getLong(2) == 1L),
      "keyless rows must be singletons with n_copies=1")
  }

  test("describeNumeric: closed-form stats incl. null counting, one row per column") {
    import spark.implicits._
    val df = Seq((Some(1.0), Some(10.0)), (Some(2.0), None),
      (Some(3.0), Some(30.0))).toDF("a", "b")
    val out = Profile.describeNumeric(df, Seq("a", "b"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.size == 2)
    val a = out("a")
    assert(a.getAs[Long]("n") == 3 && a.getAs[Long]("n_nulls") == 0)
    assert(a.getAs[Double]("min_v") == 1.0 && a.getAs[Double]("max_v") == 3.0)
    assert(a.getAs[Double]("mean_v") == 2.0 && a.getAs[Double]("sd_v") == 1.0)
    val b = out("b")
    assert(b.getAs[Long]("n") == 2 && b.getAs[Long]("n_nulls") == 1)
    assert(b.getAs[Double]("mean_v") == 20.0)
  }

  test("datasetCard: sections agree with the component operators, " +
    "long format is complete, numeric-only and string-only degenerate") {
    import spark.implicits._
    val df = Seq((Some(1.0), Some("x")), (Some(2.0), None),
      (Some(3.0), Some("x"))).toDF("a", "s")
    val card = Profile.datasetCard(df, Seq("a"), Seq("s"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getDouble(3)).toMap
    // table section
    assert(card(("table", "*", "n_rows")) == 3.0)
    // numeric section == describeNumeric, cast to double
    assert(card(("numeric", "a", "n")) == 3.0 &&
      card(("numeric", "a", "n_nulls")) == 0.0 &&
      card(("numeric", "a", "mean_v")) == 2.0 &&
      card(("numeric", "a", "sd_v")) == 1.0)
    // string section == describeStrings (top_share over non-nulls)
    assert(card(("string", "s", "n")) == 3.0 &&
      card(("string", "s", "nulls")) == 1.0 &&
      card(("string", "s", "n_distinct")) == 1.0 &&
      card(("string", "s", "top_share")) == 1.0)
    // entropy section: one value 'x' twice -> H = 0 exactly
    assert(card(("entropy", "s", "entropy")) == 0.0 &&
      card(("entropy", "s", "n_distinct")) == 1.0)
    // every row carries the uniform 4-column schema; counts add up:
    // 1 table + 6 numeric + 7 string + 5 entropy
    assert(card.size == 19, s"${card.size}")
    assert(Profile.datasetCard(df, Seq("a"), Nil).collect().length == 7)
    assert(Profile.datasetCard(df, Nil, Seq("s")).collect().length == 13)
    intercept[IllegalArgumentException](Profile.datasetCard(df, Nil, Nil))
  }

  test("keySkew: hot key reports its share and ratio to the mean key load") {
    import spark.implicits._
    // key 1: 8 rows, keys 2..5: 2 rows each → total 16, 5 keys, avg 3.2
    val rows = Seq.fill(8)(1) ++ (2 to 5).flatMap(k => Seq(k, k))
    val out = Profile.keySkew(rows.toDF("k"), "k", 3).collect()
    assert(out.length == 3)
    val top = out(0)
    assert(top.getAs[Int]("key") == 1 && top.getAs[Long]("n") == 8)
    assert(top.getAs[Double]("share") == 0.5)
    assert(top.getAs[Double]("ratio_to_avg") == 2.5) // 8 / 3.2
    // remaining ties broken by key ascending
    assert(out(1).getAs[Int]("key") == 2 && out(2).getAs[Int]("key") == 3)
  }

  test("exactIncrementalBloom equals the plain semi-join; no false negatives") {
    val corpus = docs.select("doc_id", "text")
    import spark.implicits._
    val newBatch = corpus.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 70000).as("doc_id"),
        when(col("doc_id") % 6 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" fresh suffix"))).as("text"))
      // a null text must flag in_corpus=0, not NPE in the bloom probe
      .unionAll(Seq((99999L, null: String)).toDF("doc_id", "text"))
    val hashes = Dedup.exact(corpus, "text", "doc_id").select("content_hash")
    val out = Dedup.exactIncrementalBloom(newBatch, "text", "doc_id",
      hashes, expectedItems = 100000, fpp = 0.01)
    // ground truth by plain join (no bloom involved)
    val truth = newBatch.select(col("doc_id"), md5(col("text")).as("h"))
      .join(hashes.withColumnRenamed("content_hash", "h")
        .withColumn("t", lit(1L)), Seq("h"), "left")
      .select(col("doc_id"), coalesce(col("t"), lit(0L)).as("in_corpus"))
    val got = out.select("doc_id", "in_corpus").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = truth.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(got.values.sum > 0, "gate needs real duplicates to be meaningful")
    assert(got.values.count(_ == 0L) > 0, "gate needs real novel docs too")

    // duplicate ids in the batch must not multiply output rows (the flag
    // joins back on (id, hash) against a distinct verification set)
    val dupIds = newBatch.unionAll(newBatch.filter(col("doc_id") % 2 === 0))
    val outDup = Dedup.exactIncrementalBloom(dupIds, "text", "doc_id",
      hashes, expectedItems = 100000, fpp = 0.01)
    assert(outDup.count() == dupIds.count())

    // routine Ops-scope release between pipeline stages leaves an
    // unconsumed result intact: its filter is a literal in its own plan
    Dedup.unpersistAll(spark)
    assert(out.count() == newBatch.count())

    // envelope fail-fast: a sizing past the maxFilterBytes ceiling
    // throws the sized, range-partition-advice error BEFORE any build
    // job (2e9 items at fpp=0.01 -> ~2.4 GB > the 1.2 GB default)
    val err = intercept[IllegalArgumentException] {
      Dedup.exactIncrementalBloom(newBatch, "text", "doc_id", hashes,
        expectedItems = 2000000000L, fpp = 0.01)
    }
    assert(err.getMessage.contains("maxFilterBytes"), err.getMessage)
    assert(err.getMessage.contains("Range-partition"), err.getMessage)
    // ... and a deliberately raised ceiling is honored (tiny corpus,
    // bits capped only by the raised bound)
    assert(Dedup.exactIncrementalBloom(newBatch, "text", "doc_id",
      hashes, expectedItems = 2000000L, fpp = 0.01,
      maxFilterBytes = 4000000L).count() == newBatch.count())
  }

  test("histogramEquiDepth: even data gives n/k bins at interpolated " +
    "cuts; constant data piles into bucket 0; ties stay low") {
    import spark.implicits._
    val df = (1 to 16).map(_.toDouble).toDF("x")
    val got = Profile.histogramEquiDepth(df, "x", buckets = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    // quantile_cont cuts over 1..16: p=.25 -> 4.75, .5 -> 8.5, .75 -> 12.25
    assert(got(0L) == ((1.0, 4.75, 4L)), s"${got(0L)}")
    assert(got(1L) == ((4.75, 8.5, 4L)))
    assert(got(2L) == ((8.5, 12.25, 4L)))
    assert(got(3L) == ((12.25, 16.0, 4L)))
    // constant column: every cut equal, all rows in bucket 0 (ties are
    // never pushed up), empty buckets materialized with n = 0
    val const = Seq.fill(10)(7.0).toDF("x")
    val gc = Profile.histogramEquiDepth(const, "x", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(gc == Map(0L -> 10L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
  }

  test("seasonalDecompose: planted trend+seasonal recovered exactly, " +
    "edges censored, short series reports NULL seasonal") {
    import spark.implicits._
    // x_t = 10 + s(t mod 7), s sums to 0 -> trend = 10 exactly on the
    // interior, seasonal = s, resid = 0
    val s7 = Seq(3.0, -1.0, 0.0, 2.0, -2.0, 1.0, -3.0)
    val df = (0 until 28).map(t => ("k", t.toLong, 10.0 + s7(t % 7)))
      .toDF("key", "t", "x")
    val got = Profile.seasonalDecompose(df, "key", "t", "x", period = 7)
      .collect().map { r =>
        r.getLong(1) -> ((Option(r.get(3)), Option(r.get(4)), Option(r.get(5))))
      }.toMap
    (3 until 25).foreach { t =>
      val (tr, se, re) = got(t.toLong)
      assert(tr == Some(10.0), s"t=$t trend $tr")
      assert(se == Some(s7(t % 7)), s"t=$t seasonal $se")
      assert(re == Some(0.0) || re == Some(-0.0), s"t=$t resid $re")
    }
    // censored edges: no trend, no resid; seasonal still known (every
    // weekday has interior evidence)
    (0 until 3).foreach { t =>
      val (tr, se, re) = got(t.toLong)
      assert(tr.isEmpty && re.isEmpty && se == Some(s7(t % 7)))
    }
    // series shorter than one period: nothing detrends, seasonal NULL
    val short = (0 until 5).map(t => ("s", t.toLong, t * 1.0))
      .toDF("key", "t", "x")
    val gs = Profile.seasonalDecompose(short, "key", "t", "x", 7)
      .collect()
    assert(gs.length == 5 && gs.forall(r =>
      r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5)))
  }

  test("histogram: closed-form bins, empty bins materialized, degenerate group") {
    import spark.implicits._
    // group a: values 0..10 → lo=0, hi=10, width=2.5 over 4 bins;
    // 10 lands in the LAST bin (least-clamp), 5.0 in bin 2 (5/2.5)
    // group b: all equal (degenerate) → everything in bin 0
    // group c: one bin empty (no values in [2.5, 5))
    val df = (Seq(0.0, 2.4, 2.5, 5.0, 9.9, 10.0).map(("a", _)) ++
      Seq(7.0, 7.0, 7.0).map(("b", _)) ++
      Seq(0.0, 1.0, 6.0, 10.0).map(("c", _))).toDF("g", "v")
    val got = Profile.histogram(df, "v", 4, Seq("g")).collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(got.size == 12) // 3 groups x 4 bins, empties included
    assert(got(("a", 0L)) == ((0.0, 2.5, 2L)))
    assert(got(("a", 1L)) == ((2.5, 5.0, 1L)))
    assert(got(("a", 2L)) == ((5.0, 7.5, 1L)))
    assert(got(("a", 3L)) == ((7.5, 10.0, 2L))) // hi lands in last bin
    assert(got(("b", 0L))._3 == 3L && got(("b", 1L))._3 == 0L)
    assert(got(("c", 1L))._3 == 0L) // the gap bin exists with n=0
    // ungrouped form: one global histogram, total count preserved
    val all = Profile.histogram(df, "v", 5)
    assert(all.agg(sum("n")).head().getLong(0) == 13L)
    assert(all.count() == 5)
  }

  test("robustOutliers: median/MAD closed form, outlier flagged, ties safe") {
    import spark.implicits._
    // group g: median 10.5, MAD = 1.5 → 99 has modified z-score
    // 0.6745 * |99 - 10.5| / 1.5 = 0.6745 * 59 = 39.7955
    val df = (Seq(8.0, 9.0, 10.0, 11.0, 12.0, 99.0).zipWithIndex
      .map { case (v, i) => ("g", i.toLong, v) }).toDF("g", "id", "v")
    val got = Profile.robustOutliers(df, "g", "id", "v", k = 3.5).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(1) == 5L && r.getDouble(2) == 99.0)
    assert(r.getDouble(3) == 10.5 && r.getDouble(4) == 1.5) // median, MAD
    assert(math.abs(r.getDouble(5) - 39.7955) < 1e-9)
    // no outliers in a tight group
    assert(Profile.robustOutliers(
      Seq(("h", 1L, 5.0), ("h", 2L, 6.0), ("h", 3L, 7.0))
        .toDF("g", "id", "v"), "g", "id", "v", k = 3.5).count() == 0)
  }

  test("collocations: planted pair tops PMI, hapax guard drops rare pairs") {
    import spark.implicits._
    // "new york" always adjacent; "the" frequent everywhere; a one-off
    // "rare gem" pair must be floored out by minCount
    val docs = ((0 until 10).map(i => s"new york the filler$i the") :+
      "rare gem the the").toDF("text")
    val got = TextMetrics.collocations(docs, "text", minCount = 5L,
      topK = 10).collect()
    val pairs = got.map(r => (r.getString(0), r.getString(1))).toSet
    assert(!pairs.contains(("rare", "gem")), "hapax pair must be floored")
    val top = got.head
    assert((top.getString(0), top.getString(1)) == (("new", "york")))
    // closed form: c_ny=10, c_new=10, c_york=10, N = 52 tokens
    val n = docs.collect().map(_.getString(0).split(" ").length).sum
    val want = math.log(10.0 * n / (10.0 * 10.0))
    assert(math.abs(top.getDouble(3) - want) < 1e-3)
    // PMI of (the, the): c=2... under minCount=5? "the the" occurs once
    // per trailer doc -> 1 + 1 adjacency in "the filler the"? none; keep
    // the deterministic order contract instead: sorted by pmi desc
    val ps = got.map(_.getDouble(3))
    assert(ps.sameElements(ps.sorted(Ordering[Double].reverse)))
  }

  test("zipfFit: exact power law recovers its slope; tie ranks " +
    "deterministic") {
    import spark.implicits._
    // frequencies 64,32,16,8,4,2,1 for terms a..g: ln f = ln 64 - ln2 * ...
    // slope vs ln(rank) is NOT exactly -1 (ranks 1..7 aren't geometric),
    // so assert the regression moments instead via a reference fit
    val words = Seq("a" -> 64, "b" -> 32, "c" -> 16, "d" -> 8, "e" -> 4,
      "f" -> 2, "g" -> 1)
    val text = words.flatMap { case (w, n) => Seq.fill(n)(w) }
      .mkString(" ")
    val got = TextMetrics.zipfFit(Seq(text).toDF("text"), "text",
      topN = 7).collect().head
    assert(got.getLong(0) == 7 && got.getLong(1) == 127)
    val pts = words.zipWithIndex.map { case ((_, c), i) =>
      (math.log(i + 1.0), math.log(c.toDouble)) }
    val n = pts.size.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val icept = (sy - slope * sx) / n
    assert(math.abs(got.getDouble(2) - slope) < 1e-3, s"slope ${got.get(2)}")
    assert(math.abs(got.getDouble(3) - icept) < 1e-3)
    assert(got.getDouble(4) > 0.9 && got.getDouble(4) <= 1.0)
  }

  test("distinctiveTerms: planted group vocabulary wins, prior tames rarity") {
    import spark.implicits._
    // 'alpha' dominates group A, 'beta' group B, shared filler elsewhere
    val a = (0 until 30).map(i => ("A", s"alpha filler$i common common"))
    val b = (0 until 30).map(i => ("B", s"beta filler$i common common"))
    val df = (a ++ b).toDF("src", "text")
    val got = TextMetrics.distinctiveTerms(df, "text", "src", k = 2,
      minCount = 5L)
    val top = got.filter(col("rank") === 1).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(top == Map("A" -> "alpha", "B" -> "beta"))
    // the shared term never outranks the planted one anywhere
    assert(got.filter(col("term") === "common" && col("rank") === 1)
      .count() == 0)
  }

  test("classifierMetrics / calibration / rocAuc: closed forms incl. ties") {
    import spark.implicits._
    val df = Seq((0.9, true), (0.8, true), (0.7, false), (0.6, true),
      (0.4, false), (0.3, false), (0.2, true), (0.1, false))
      .toDF("score", "label")
    val m = Profile.classifierMetrics(df, "score", "label", 0.5)
      .collect().head
    assert((m.getLong(1), m.getLong(2), m.getLong(3), m.getLong(4))
      == ((3L, 1L, 3L, 1L)))
    assert(m.getDouble(5) == 0.75 && m.getDouble(6) == 0.75 &&
      m.getDouble(7) == 0.75 && m.getDouble(8) == 0.75)
    // AUC without ties: U = 12 of 16 discordant-free pairs
    assert(Profile.rocAuc(df, "score", "label").collect().head
      .getDouble(3) == 0.75)
    // tie at 0.5 across classes earns half credit: U = 18.5 / 25
    val tied = df.unionAll(Seq((0.5, true), (0.5, false))
      .toDF("score", "label"))
    val a = Profile.rocAuc(tied, "score", "label").collect().head
    assert(a.getLong(1) == 5L && a.getLong(2) == 5L &&
      a.getDouble(3) == 0.74)
    // degenerate single-class input scores 0, not NaN
    assert(Profile.rocAuc(df.filter(col("label")), "score", "label")
      .collect().head.getDouble(3) == 0.0)
    // calibration: bucket means/rates + empty bins materialized
    val cal = Profile.calibration(df, "score", "label", bins = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_ => r.getDouble(2)),
          Option(r.get(3)).map(_ => r.getDouble(3))))).toMap
    assert(cal.size == 5)
    assert(cal(4L) == ((2L, Some(0.85), Some(1.0)))) // .9 & .8, both pos
    assert(cal(1L)._1 == 2L && cal(1L)._3 == Some(0.5)) // .3 & .2
    assert(cal(0L)._1 == 1L) // only .1
    // score exactly 1.0 clamps into the last bin
    val one = Profile.calibration(Seq((1.0, true)).toDF("score", "label"),
      "score", "label", bins = 5).filter(col("bucket") === 4)
    assert(one.collect().head.getLong(1) == 1L)
  }

  test("brierScore: perfect forecasts score zero, hand-computed Murphy " +
    "decomposition, identity exact at zero within-bucket variance") {
    import spark.implicits._
    // perfect forecasts: brier 0, reliability 0, resolution ==
    // uncertainty, binned 0
    val perfect = Seq((1.0, true), (0.0, false), (1.0, true))
      .toDF("score", "label")
    val p = Profile.brierScore(perfect, "score", "label").collect().head
    assert(p.getLong(0) == 3L && p.getDouble(1) == 0.0 &&
      p.getDouble(2) == 0.0, s"$p")
    assert(p.getDouble(3) == p.getDouble(4) && p.getDouble(5) == 0.0,
      s"resolution must equal uncertainty at perfection: $p")
    // hand-computed: scores {0.2,0.2,0.8,0.8}, labels {F,T,T,T}:
    // brier 0.19, rel 0.065, res 0.0625, unc 0.1875 — and with zero
    // within-bucket forecast variance, binned == raw exactly
    val mixed = Seq((0.2, false), (0.2, true), (0.8, true), (0.8, true))
      .toDF("score", "label")
    val m = Profile.brierScore(mixed, "score", "label").collect().head
    assert(m.getLong(0) == 4L && m.getDouble(1) == 0.19, s"$m")
    assert(m.getDouble(2) == 0.065 && m.getDouble(3) == 0.0625 &&
      m.getDouble(4) == 0.1875, s"$m")
    assert(m.getDouble(5) == 0.19,
      s"binned == raw at zero within-bucket variance: $m")
    // within-bucket variance opens the gap: binned <= raw
    val spread = mixed.unionAll(Seq((0.85, true)).toDF("score", "label"))
    val sp = Profile.brierScore(spread, "score", "label").collect().head
    assert(sp.getDouble(5) <= sp.getDouble(1),
      s"binned must not exceed raw: $sp")
    // no row passes the validity filter (scores out of [0,1]): EMPTY
    // frame like calibration — not a single row whose n reads null
    val invalid = Seq((1.5, true), (-0.2, false)).toDF("score", "label")
    val inv = Profile.brierScore(invalid, "score", "label")
    assert(inv.count() == 0L,
      "all-invalid input must return an empty frame")
    assert(inv.schema.fieldNames.toSeq ==
      Seq("n", "brier", "reliability", "resolution", "uncertainty",
        "brier_binned"))
  }

  test("isotonicCalibration: PAV pooling closed form, monotone fit, " +
    "mass preservation, bins guard") {
    import spark.implicits._
    // bins=5 buckets: b0 rate 1/2, b1 rate 2/2, b2 rate 0/2, b3 rate
    // 2/2 — PAV pools the (1.0, 0.0) violation into 2/4 = 0.5, which
    // TIES the preceding 0.5 pool (ties don't merge; same fit either
    // way), and the trailing 1.0 stands
    val df = Seq(
      (0.1, true), (0.1, false),
      (0.3, true), (0.3, true),
      (0.5, false), (0.5, false),
      (0.7, true), (0.7, true)).toDF("score", "label")
    val r = Profile.isotonicCalibration(df, "score", "label", bins = 5)
      .orderBy("bucket").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L), r.toSeq)
    assert(r.map(_.getDouble(4)).toSeq == Seq(0.5, 1.0, 0.0, 1.0),
      s"raw rates: ${r.toSeq}")
    assert(r.map(_.getDouble(5)).toSeq == Seq(0.5, 0.5, 0.5, 1.0),
      s"PAV fit: ${r.toSeq}")
    // a noisy hash-scored frame: the fit must be globally
    // non-decreasing and preserve total positive mass (Σ n·iso = Σ pos,
    // the PAV conservation law — 6dp rounding leaves ~1e-3 slack here)
    val noisy = spark.range(0, 2000).select(
      (pmod(col("id") * 2654435761L, lit(1000L)) / 1000.0).as("score"),
      (pmod(col("id") * 40503L, lit(97L)).cast("double") <
        pmod(col("id") * 2654435761L, lit(1000L)) / 11.0).as("label"))
    val rn = Profile.isotonicCalibration(noisy, "score", "label",
      bins = 20).orderBy("bucket").collect()
    val iso = rn.map(_.getDouble(5))
    assert(iso.zip(iso.tail).forall { case (a, b) => a <= b },
      s"iso fit must be non-decreasing: ${iso.toSeq}")
    val massIso = rn.map(x => x.getLong(1) * x.getDouble(5)).sum
    val pos = rn.map(_.getLong(2)).sum.toDouble
    assert(math.abs(massIso - pos) < 0.01,
      s"PAV must preserve positive mass: $massIso vs $pos")
    intercept[IllegalArgumentException](
      Profile.isotonicCalibration(df, "score", "label", bins = 5000))
  }

  test("retrievalMetrics: closed-form graded nDCG, MRR, unanswerable query") {
    import spark.implicits._
    val results = Seq(
      ("A", "d1", 1L), ("A", "d4", 2L), ("A", "d3", 3L), // d4 unjudged
      ("B", "d9", 1L),                                   // no relevant at all
      ("C", "d7", 1L))                                   // relevant exists, missed
      .toDF("qid", "doc", "rank")
    val qrels = Seq(
      ("A", "d1", 3.0), ("A", "d2", 1.0), ("A", "d3", 2.0),
      ("B", "d9", 0.0),                   // judged irrelevant
      ("C", "d8", 2.0))
      .toDF("qid", "doc", "grade")
    val got = Similarity.retrievalMetrics(results, qrels, k = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    val dcgA = (math.pow(2, 3) - 1) / lg2(2) + 0.0 +
      (math.pow(2, 2) - 1) / lg2(4)
    val idcgA = (math.pow(2, 3) - 1) / lg2(2) +
      (math.pow(2, 2) - 1) / lg2(3) + (math.pow(2, 1) - 1) / lg2(4)
    val wantA = BigDecimal(dcgA / idcgA)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("A")._1 == 3L)
    assert(got("A")._2 == 0.6667 && got("A")._3 == 0.6667) // 2 of 3 rel hit
    assert(got("A")._4 == 1.0 && got("A")._5 == wantA)
    assert(got("B") == ((0L, 0.0, 0.0, 0.0, 0.0))) // unanswerable → zeros
    assert(got("C") == ((1L, 0.0, 0.0, 0.0, 0.0))) // missed everything
  }

  test("winsorize: exact-percentile clipping, flags, group independence") {
    import spark.implicits._
    val df = ((1 to 10).map(i => ("g", i.toLong, i.toDouble)) ++
      Seq(("h", 50L, 1000.0), ("h", 51L, 0.0), ("h", 52L, 500.0)))
      .toDF("grp", "id", "v")
    val got = Profile.winsorize(df, "grp", "id", "v",
        pLo = 0.1, pHi = 0.9).collect()
      .map(r => r.getLong(1) -> ((r.getDouble(3), r.getBoolean(4)))).toMap
    // group g: p10 = 1.9, p90 = 9.1 (quantile_cont interpolation)
    assert(got(1L) == ((1.9, true)) && got(10L) == ((9.1, true)))
    assert(got(5L) == ((5.0, false)))
    // group h clips independently of g
    assert(got(50L)._2 && !got(52L)._2)
  }

  test("cusum: reference-fold equality, drift alarms, constant series silent") {
    import spark.implicits._
    // a planted level shift: quiet stretch then a sustained +10 step
    val xs = Seq.fill(8)(0.0) ++ Seq.fill(8)(10.0)
    val df = xs.zipWithIndex.map { case (x, i) => ("k", i.toLong, x) }
      .toDF("key", "t", "x")
    val out = Profile.cusum(df, "key", "t", "x", slack = 0.5, h = 1.0)
      .collect().map(r => (r.getLong(1), r.getDouble(3), r.getDouble(4),
        r.getBoolean(5))).sortBy(_._1)
    // reference fold in plain Scala, 4dp-rounded like the operator
    val mu = xs.sum / xs.size
    val sd = math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / (xs.size - 1))
    var hi = 0.0; var lo = 0.0
    val want = xs.zipWithIndex.map { case (x, i) =>
      hi = math.max(0.0, hi + (x - mu - 0.5 * sd))
      lo = math.max(0.0, lo + (mu - x - 0.5 * sd))
      (i.toLong, hi, lo, hi > 1.0 * sd || lo > 1.0 * sd)
    }
    out.zip(want).foreach { case ((t, gh, gl, ga), (wt, wh, wl, wa)) =>
      assert(t == wt && math.abs(gh - wh) < 1e-4 && math.abs(gl - wl) < 1e-4
        && ga == wa, s"t=$t: got ($gh,$gl,$ga) want ($wh,$wl,$wa)")
    }
    assert(want.exists(_._4), "the planted shift must raise an alarm")
    // constant series: everything 0, no alarm
    val flat = (0 until 6).map(i => ("c", i.toLong, 7.0)).toDF("key", "t", "x")
    val fr = Profile.cusum(flat, "key", "t", "x").collect()
    assert(fr.forall(r => r.getDouble(3) == 0.0 && !r.getBoolean(5)))
  }

  test("ewma: closed-form recurrence, first point seeds, keys independent") {
    import spark.implicits._
    // alpha=0.3 on [0, 10, 10]: e = 0, 3, 5.1 — e1 = x1, then the fold
    val df = Seq(("k", 0L, 0.0), ("k", 1L, 10.0), ("k", 2L, 10.0),
      ("j", 5L, 4.0)).toDF("key", "t", "x")
    val got = Profile.ewma(df, "key", "t", "x", alpha = 0.3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
      .toSet
    assert(got == Set(("k", 0L, 0.0), ("k", 1L, 3.0), ("k", 2L, 5.1),
      ("j", 5L, 4.0)))
    // order of input rows is irrelevant: the fold sorts by ts
    val shuffled = Seq(("k", 2L, 10.0), ("k", 0L, 0.0), ("k", 1L, 10.0))
      .toDF("key", "t", "x")
    val got2 = Profile.ewma(shuffled, "key", "t", "x", alpha = 0.3)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toSet
    assert(got2 == Set((0L, 0.0), (1L, 3.0), (2L, 5.1)))
  }

  test("rollingZ: trailing-window closed form, thin history and flat " +
    "history never flag") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0, 10.0).zipWithIndex
      .map { case (x, i) => ("k", i.toLong, x) }.toDF("key", "t", "x")
    val got = Profile.rollingZ(df, "key", "t", "x", window = 3, tau = 2.0,
        minPts = 2)
      .collect().map(r => (r.getLong(1),
        (r.getLong(3), Option(r.get(5)).map(_.asInstanceOf[Double]),
          r.getBoolean(6)))).toMap
    assert(got(0L) == ((0L, None, false))) // no history
    assert(got(1L) == ((1L, None, false))) // under minPts
    // hist [1,2]: mean 1.5, sd .7071 -> z = (3-1.5)/.7071 = 2.1213
    assert(got(2L)._1 == 2L && got(2L)._3)
    assert(math.abs(got(2L)._2.get - 2.1213) < 1e-9)
    // hist [1,2,3]: mean 2, sd 1 -> z = 8
    assert(got(3L) == ((3L, Some(8.0), true)))
    // constant history: sd = 0 -> NULL z, never an anomaly
    val flat = (0 until 5).map(i => ("c", i.toLong, 7.0))
      .toDF("key", "t", "x")
    val fr = Profile.rollingZ(flat, "key", "t", "x", window = 3,
      tau = 1.0, minPts = 2).collect()
    assert(fr.forall(r => r.isNullAt(5) && !r.getBoolean(6)))
  }

  test("acf: perfect alternation, thin lags and flat series go NULL") {
    import spark.implicits._
    // alternating series: r_1 = -1, r_2 = +1 exactly
    val df = Seq(1.0, -1.0, 1.0, -1.0, 1.0, -1.0).zipWithIndex
      .map { case (x, i) => ("k", i.toLong, x) }.toDF("key", "t", "x")
    val got = Profile.acf(df, "key", "t", "x", maxLag = 5)
      .collect().map(r => r.getInt(1) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(got(1) == ((5L, Some(-1.0))))
    assert(got(2) == ((4L, Some(1.0))))
    // lag 5 has exactly 1 pair: corr undefined -> NULL
    assert(got(5) == ((1L, None)))
    // constant series: zero variance, every lag NULL but pairs counted
    val flat = (0 until 4).map(i => ("c", i.toLong, 7.0))
      .toDF("key", "t", "x")
    val fr = Profile.acf(flat, "key", "t", "x", maxLag = 2).collect()
    assert(fr.length == 2 && fr.forall(_.isNullAt(3)))
  }

  test("acf: tied timestamps resolve deterministically by (t, x) — " +
    "input order and partitioning never change the lag pairing") {
    import spark.implicits._
    // two rows share t=2; the (t, x) tiebreak pins 3.0 before 9.0
    val rows = Seq(("k", 0L, 1.0), ("k", 1L, 5.0), ("k", 2L, 9.0),
      ("k", 2L, 3.0), ("k", 3L, 7.0))
    val want = Profile.acf(rows.toDF("key", "t", "x"), "key", "t", "x",
        maxLag = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    Seq(rows.reverse, scala.util.Random.shuffle(rows)).foreach { p =>
      val got = Profile.acf(p.toDF("key", "t", "x").repartition(7),
          "key", "t", "x", maxLag = 2)
        .collect().map(r => (r.getInt(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
      assert(got == want, s"tie resolution drifted: $got vs $want")
    }
  }

  test("holt: reference-fold equality, first point seeds, input order " +
    "irrelevant, keys independent") {
    import spark.implicits._
    val xs = Seq(10.0, 12.0, 15.0, 11.0, 18.0)
    val df = (xs.zipWithIndex.map { case (x, i) => ("k", i.toLong, x) } :+
      (("j", 0L, 4.0))).toDF("key", "t", "x")
    val got = Profile.holt(df, "key", "t", "x", alpha = 0.3, beta = 0.2)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    // reference fold in plain Scala, 4dp-rounded like the operator
    var l = xs.head; var b = 0.0
    xs.zipWithIndex.foreach { case (x, i) =>
      if (i > 0) {
        val l2 = 0.3 * x + 0.7 * (l + b)
        b = 0.2 * (l2 - l) + 0.8 * b; l = l2
      }
      val (gl, gb, gf) = got(("k", i.toLong))
      assert(math.abs(gl - l) < 1e-4 && math.abs(gb - b) < 1e-4
        && math.abs(gf - (l + b)) < 5e-4, s"i=$i: got ($gl,$gb,$gf)")
    }
    // single-point key: level = x, trend = 0, forecast = x
    assert(got(("j", 0L)) == ((4.0, 0.0, 4.0)))
    // the fold sorts by ts: shuffled input, identical output
    val shuffled = scala.util.Random.shuffle(
      xs.zipWithIndex.map { case (x, i) => ("k", i.toLong, x) })
      .toDF("key", "t", "x")
    val got2 = Profile.holt(shuffled, "key", "t", "x",
        alpha = 0.3, beta = 0.2)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(got2 == got.collect { case (("k", t), (lv, _, _)) => t -> lv })
  }

  test("weightDiagnostics on a real EBW solve: ESS <= n, deff >= 1, " +
    "calibration pays measurable variance for its moment shift") {
    import spark.implicits._
    import graft.ebw.{EntropyBalance, EbwOptions}
    // 60 rows, one feature; target the mean of the upper half -> the
    // solver must upweight large-x rows, so weights spread and ESS drops
    val xs = (0 until 60).map(i => 1.0 + (i % 10))
    val df = xs.map(x => (Seq(x), 1.0)).toDF("feat", "w0")
    val target = Array(xs.sorted.drop(30).sum / 30.0)
    val res = EntropyBalance.entropyBalance(df, "feat", "w0", target,
      options = EbwOptions(optimalityTol = 1e-9, maxSteps = 80))
    assert(res.converged, res.errorMessage)
    val diag = Profile.weightDiagnostics(
      res.weighted.withColumn("g", lit("all")), "g", "weight_new")
      .collect().head
    val n = diag.getLong(1)
    assert(n == 60)
    val ess = diag.getDouble(3); val deff = diag.getDouble(4)
    assert(ess <= n + 1e-9, s"Kish ESS can never exceed n: $ess")
    assert(deff > 1.0, s"a real moment shift must cost variance: $deff")
    assert(ess < n, s"upweighting must spread weights: ess=$ess")
    // Kish identity holds on solver output too
    assert(math.abs(deff - (1 + math.pow(diag.getDouble(5), 2))) < 1e-3)
  }

  test("ksTest: hand CDF walk, identical samples D=0, disjoint " +
    "samples D=1 and significant at size") {
    import spark.implicits._
    // A=[1,2], B=[2,3]: F_a=.5,1,1 F_b=0,.5,1 -> D=.5 first at v=1
    val a2 = Seq(1.0, 2.0).toDF("v"); val b2 = Seq(2.0, 3.0).toDF("v")
    val r = Profile.ksTest(a2, b2, "v").collect().head
    assert(r.getLong(0) == 2 && r.getLong(1) == 2)
    assert(r.getDouble(2) == 0.5 && r.getDouble(3) == 1.0)
    assert(!r.getBoolean(5), "n=2 cannot clear the asymptotic cut")
    // identical samples: D exactly 0
    val same = Profile.ksTest(a2, a2, "v").collect().head
    assert(same.getDouble(2) == 0.0 && !same.getBoolean(5))
    // disjoint big samples: D = 1, significant
    val lo = (1 to 200).map(_.toDouble).toDF("v")
    val hi = (1001 to 1200).map(_.toDouble).toDF("v")
    val d = Profile.ksTest(lo, hi, "v").collect().head
    assert(d.getDouble(2) == 1.0 && d.getBoolean(5))
  }

  test("emdDrift: two-point closed form, pure shift scores the shift, " +
    "identical samples 0, quantization scale, empty side NULL") {
    import spark.implicits._
    // A uniform on {0,1}, B all-mass at 1: |F_a - F_b| = 0.5 on [0,1)
    // -> W1 = 0.5
    val a = Seq(0.0, 1.0).toDF("v")
    val b = Seq(1.0).toDF("v")
    val r = Profile.emdDrift(a, b, "v").collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L &&
      r.getLong(2) == 2L, s"$r")
    assert(r.getDouble(3) == 0.5, s"$r")
    // a pure location shift of singletons scores exactly the shift
    val s1 = Profile.emdDrift(Seq(0.0).toDF("v"),
      Seq(0.25).toDF("v"), "v").collect().head
    assert(s1.getDouble(3) == 0.25, s"$s1")
    // identical samples: exactly 0
    val same = Profile.emdDrift(a, a, "v").collect().head
    assert(same.getDouble(3) == 0.0, s"$same")
    // shifting a whole 100-point sample by 7 scores 7 (units of v)
    val base = (1 to 100).map(_.toDouble).toDF("v")
    val moved = (1 to 100).map(_ + 7.0).toDF("v")
    assert(Profile.emdDrift(base, moved, "v").collect().head
      .getDouble(3) == 7.0)
    // quantization: at scale=1 a 0.004 shift rounds onto one cell -> 0
    val q = Profile.emdDrift(Seq(0.1).toDF("v"),
      Seq(0.104).toDF("v"), "v", scale = 1).collect().head
    assert(q.getDouble(3) == 0.0, s"$q")
    // empty side: NULL w1, not NaN
    val e = Profile.emdDrift(a, Seq.empty[Double].toDF("v"), "v")
      .collect().head
    assert(e.isNullAt(3), s"$e")
    // envelope boundary is LOUD, not a silently smaller w1: at scale=0
    // the quantized gap between -9e18 and 9e18 is 1.8e19 — under ANSI
    // (the session default) the long subtraction itself raises; under
    // non-ANSI the decimal-product NULL would be caught by the
    // per-term overflow detector's raise_error. Either way the caller
    // gets an error, never an understated w1.
    val big = Seq(-9.0e18, 9.0e18).toDF("v")
    val ex = intercept[Exception] {
      Profile.emdDrift(big, Seq(-9.0e18).toDF("v"), "v", scale = 0)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(m => m.contains("overflowed DECIMAL") ||
      m.contains("ARITHMETIC_OVERFLOW")),
      s"expected a loud envelope error, got: $ex")
  }

  test("qqCompare: identical samples gap 0, planted shift appears at " +
    "exactly the shifted quantiles") {
    import spark.implicits._
    val a = (1 to 100).map(_.toDouble).toDF("v")
    val same = Profile.qqCompare(a, a, "v").collect()
    assert(same.length == 9 && same.forall(_.getDouble(3) == 0.0))
    // shift ONLY the top half: low quantiles agree, high ones gap
    val b = (1 to 100).map(i => if (i > 50) i + 1000.0 else i.toDouble)
      .toDF("v")
    val sh = Profile.qqCompare(a, b, "v").collect()
      .map(r => r.getDouble(0) -> r.getDouble(3)).toMap
    assert(sh(0.1) == 0.0 && sh(0.3) == 0.0,
      "the untouched lower tail must agree")
    assert(sh(0.7) == 1000.0 && sh(0.9) == 1000.0,
      s"the shifted upper tail must show the full gap: $sh")
  }

  test("heapsLaw: growing corpora grow vocabulary with 0 < beta <= 1, " +
    "template floods go flat, curves are monotone and close") {
    import spark.implicits._
    // each doc introduces two fresh terms plus a shared filler
    val growing = (0 until 60).map(i =>
      (i.toLong, s"w${2 * i} w${2 * i + 1} common common"))
      .toDF("doc_id", "text")
    val g = TextMetrics.heapsLaw(growing, "text", "doc_id",
      checkpoints = 5).collect().sortBy(_.getInt(0))
    val vocab = g.map(_.getLong(3)); val toks = g.map(_.getLong(2))
    assert(vocab.zip(vocab.tail).forall { case (a, b) => b >= a })
    assert(toks.zip(toks.tail).forall { case (a, b) => b > a })
    assert(vocab.last == 121, "60 docs x 2 fresh + common = 121 terms")
    assert(toks.last == 240)
    val beta = g.head.getDouble(4)
    assert(beta > 0.5 && beta <= 1.0, s"near-linear vocab growth: $beta")
    // template flood: vocabulary saturates immediately -> beta ~ 0
    val flood = (0 until 60).map(i => (i.toLong, "spam ham spam ham"))
      .toDF("doc_id", "text")
    val fb = TextMetrics.heapsLaw(flood, "text", "doc_id",
      checkpoints = 5).collect().head.getDouble(4)
    assert(math.abs(fb) < 0.01, s"flat vocab must read beta ~ 0: $fb")
  }

  test("compressionRatio: templates compress far below prose, random " +
    "soup barely compresses, empty NULL, deterministic") {
    import spark.implicits._
    val template = Seq.fill(200)("click here to win now").mkString(" ")
    val prose = "the quick brown fox jumps over a lazy dog while " +
      "seventeen implausible pelicans argue about parquet metadata " +
      "and a modest kangaroo files a formal complaint in triplicate"
    // a SEEDED rng: multiplicative-hash chars are a linear sequence
    // deflate models at ratio 0.17 — "looks arbitrary" is not entropy
    val rng = new scala.util.Random(42)
    val soup = Array.fill(600)((rng.nextInt(94) + 33).toChar).mkString
    val df = Seq((1L, template), (2L, prose), (3L, soup), (4L, ""))
      .toDF("doc_id", "text")
    val got = TextMetrics.compressionRatio(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(3)).map(_.asInstanceOf[Double]),
          r.getBoolean(4)))).toMap
    val (Some(rt), flagT) = got(1L)
    val (Some(rp), _) = got(2L)
    val (Some(rs), flagS) = got(3L)
    assert(rt < 0.1 && flagT, s"template must flag as repetitive: $rt")
    assert(rp > rt && rp < 0.9, s"prose in the middle band: $rp")
    assert(rs > rp && !flagS, s"random soup barely compresses: $rs")
    assert(got(4L) == ((None, false)), "empty doc: NULL ratio, no flag")
    // deterministic within a JVM
    val again = TextMetrics.compressionRatio(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.get(2)).toMap
    assert(again(1L) != null && again ==
      TextMetrics.compressionRatio(df, "text", "doc_id")
        .collect().map(r => r.getLong(0) -> r.get(2)).toMap)
  }

  test("TextFixture.compressVerdicts: class bands separated with margin, " +
    "verdicts closed-form") {
    import spark.implicits._
    // the text_compress gate's fixture truth, margin-pinned: the gate
    // hash only proves band ORDER; this spec pins the >5x separation
    // margins so a band drifting toward a boundary fails CI before it
    // ever flips the gate
    val ids = (0L until 60L).toDF("doc_id")
    val corpus = TextFixture.compressCorpus(ids, "doc_id")
    val scored = TextMetrics.compressionRatio(corpus, "text", "doc_id",
        minRatio = 0.10)
      .join(corpus.select("doc_id", "doc_class"), "doc_id")
      .groupBy("doc_class")
      .agg(org.apache.spark.sql.functions.min("ratio").as("rmin"),
        org.apache.spark.sql.functions.max("ratio").as("rmax"))
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    val (tMin, tMax) = scored(0)
    val (pMin, pMax) = scored(1)
    val (nMin, nMax) = scored(2)
    assert(tMax < 0.05, s"template band must sit far under the 0.10 cut: $tMax")
    assert(pMin > 0.20 && pMax < 0.60, s"prose band drifted: [$pMin,$pMax]")
    assert(nMin > 0.65, s"noise band must barely compress: $nMin")
    val verdicts = TextFixture.compressVerdicts(ids, "doc_id").collect()
    assert(verdicts.length == 60)
    verdicts.foreach { r =>
      val cls = r.getInt(1)
      assert(r.getBoolean(2) == (cls == 0), s"verdict for class $cls")
      assert(r.getBoolean(3) == (cls < 2), s"separation for class $cls")
    }
    assert(tMin >= 0.0, "ratio must be non-negative")
  }

  test("hillTail: exact-exponent fixture, below-xmin excluded, thin " +
    "tail NULL") {
    import spark.implicits._
    // x = xmin * e for 4 tail points: sum ln = 4 -> alpha = 1 + 4/4 = 2
    val xmin = 10.0
    val xs = Seq.fill(4)(xmin * math.E) ++ Seq(1.0, 2.0, 5.0)
    val r = Profile.hillTail(xs.toDF("v"), "v", xmin).collect().head
    assert(r.getLong(1) == 4 && r.getLong(2) == 7)
    assert(math.abs(r.getDouble(4) - 2.0) < 1e-4, s"alpha ${r.get(4)}")
    assert(math.abs(r.getDouble(5) - 0.5) < 1e-4, s"se ${r.get(5)}")
    // a single tail point carries no slope information
    val thin = Seq(100.0, 1.0).toDF("v")
    assert(Profile.hillTail(thin, "v", 50.0).collect().head.isNullAt(4))
  }

  test("kaplanMeier: textbook curve with censoring, terminal point " +
    "hits exact zero, censored subjects stay at risk") {
    import spark.implicits._
    // classic 5-subject fixture: events at 1,3,5; censored at 2,4
    val df = Seq((1.0, true), (2.0, false), (3.0, true), (4.0, false),
      (5.0, true)).map { case (t, e) => ("g", t, e) }
      .toDF("grp", "t", "e")
    val got = Profile.kaplanMeier(df, "grp", "t", "e")
      .collect().map(r => r.getDouble(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(got(1.0) == ((5L, 1L, 0L, 0.8)))
    assert(got(2.0) == ((4L, 0L, 1L, 0.8)), "censoring moves no mass")
    assert(got(3.0) == ((3L, 1L, 0L, 0.5333)))
    assert(got(4.0) == ((2L, 0L, 1L, 0.5333)))
    assert(got(5.0) == ((1L, 1L, 0L, 0.0)),
      "d = n terminal point must be EXACT zero, not exp(NULL-sum)")
    // dropping the censored subjects (the naive mistake) changes the
    // curve: with only events 1,3,5, S(3) = (2/3)*(1/2)? no: n=3 ->
    // S(1)=2/3, S(3)=1/3, S(5)=0 — different from 0.5333 above
    val naive = Profile.kaplanMeier(
      df.filter(col("e")), "grp", "t", "e").collect()
      .map(r => r.getDouble(1) -> r.getDouble(5)).toMap
    assert(math.abs(naive(3.0) - 0.3333) < 1e-9 &&
      naive(3.0) != got(3.0)._4,
      "censoring is information: the naive curve must differ")
  }

  test("theilsU: determined pair reads 1, independence reads exactly 0, " +
    "asymmetric case splits 1.0 vs 0.5, constant column NULL, guards") {
    import spark.implicits._
    // x 4-distinct determines y 2-distinct; y only halves x:
    // U(y|x) = 1, U(x|y) = (ln4 - ln2)/ln4 = 0.5, MI = ln 2
    val asym = Seq(("A", "p"), ("B", "p"), ("C", "q"), ("D", "q"))
      .toDF("x", "y")
    val got = Profile.theilsU(asym, Seq("x", "y")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.get(4)))).toMap
    assert(got(("y", "x")) == ((4L, 0.6931, 1.0)), s"${got(("y", "x"))}")
    assert(got(("x", "y")) == ((4L, 0.6931, 0.5)), s"${got(("x", "y"))}")
    // exact independence: the count form cancels to 0.0 exactly
    val ind = Seq(("A", "p"), ("A", "q"), ("B", "p"), ("B", "q"))
      .toDF("x", "y")
    val gi = Profile.theilsU(ind, Seq("x", "y")).collect()
      .map(r => r.getDouble(3)).toSeq
    assert(gi == Seq(0.0, 0.0), s"$gi")
    // constant column: H(x) = 0 -> NULL u in that direction
    val const = Seq(("k", "p"), ("k", "q")).toDF("x", "y")
    val gc = Profile.theilsU(const, Seq("x", "y")).collect()
      .map(r => (r.getString(0), r.isNullAt(4))).toMap
    assert(gc("x"), "U(constant|y) must be NULL, H(x)=0")
    assert(!gc("y"), "U(y|constant) is defined (0)")
    intercept[IllegalArgumentException](
      Profile.theilsU(asym, Seq("x")))
    intercept[IllegalArgumentException](
      Profile.theilsU(asym, Seq("x", "x")))
  }

  test("nelsonAalen: hand-summed hazard on the KM fixture, censoring " +
    "moves no mass, Fleming-Harrington dominates KM") {
    import spark.implicits._
    // the kaplanMeier fixture: events at 1,3,5; censored at 2,4
    val df = Seq((1.0, true), (2.0, false), (3.0, true), (4.0, false),
      (5.0, true)).map { case (t, e) => ("g", t, e) }
      .toDF("grp", "t", "e")
    val got = Profile.nelsonAalen(df, "grp", "t", "e")
      .collect().map(r => r.getDouble(1) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(5), r.getDouble(6),
          r.getDouble(7)))).toMap
    // H(1) = 1/5; H(3) = 1/5 + 1/3; H(5) = + 1/1
    assert(got(1.0) == ((5L, 1L, 0.2, 0.2, 0.8187)), s"${got(1.0)}")
    assert(got(2.0)._3 == 0.2, "censoring adds no hazard mass")
    assert(got(3.0)._3 == 0.5333 &&
      got(3.0)._4 == BigDecimal(math.sqrt(1.0 / 25 + 1.0 / 9))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
      s"${got(3.0)}")
    assert(got(5.0)._3 == 1.5333, "d = n adds exactly 1")
    // FH survival >= KM survival pointwise (the standard dominance)
    val km = Profile.kaplanMeier(df, "grp", "t", "e").collect()
      .map(r => r.getDouble(1) -> r.getDouble(5)).toMap
    got.foreach { case (t, v) =>
      assert(v._5 >= km(t) - 1e-9, s"FH < KM at t=$t: ${v._5} ${km(t)}")
    }
  }

  test("chiSquare: textbook 2x2, independence reads ~0, empty cells " +
    "contribute their expectation without a grid") {
    import spark.implicits._
    // classic 2x2: [[20,10],[10,20]] -> chi2 = 60*(20*20-10*10)^2/(30^4)
    val rows = Seq.fill(20)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
      Seq.fill(10)(("y", "p")) ++ Seq.fill(20)(("y", "q"))
    val r = Profile.chiSquare(rows.toDF("a", "b"), "a", "b")
      .collect().head
    assert(r.getLong(0) == 60 && r.getLong(3) == 1)
    val want = 60.0 * math.pow(20 * 20 - 10 * 10, 2) / (30.0 * 30 * 30 * 30)
    assert(math.abs(r.getDouble(4) - want) < 1e-3, s"chi2 ${r.get(4)}")
    assert(math.abs(r.getDouble(5) - math.sqrt(want / 60)) < 1e-3)
    // perfect independence: chi2 ~ 0 (product structure)
    val ind = (for (a <- Seq("x", "y"); b <- Seq("p", "q"); _ <- 1 to 5)
      yield (a, b)).toDF("a", "b")
    assert(Profile.chiSquare(ind, "a", "b").collect().head.getDouble(4)
      == 0.0)
    // an unobserved cell: x only with p, y with both -> grid cell (x,q)
    // is empty; the identity must still price it at its expectation
    val holey = (Seq.fill(6)(("x", "p")) ++ Seq.fill(3)(("y", "p")) ++
      Seq.fill(3)(("y", "q"))).toDF("a", "b")
    val h = Profile.chiSquare(holey, "a", "b").collect().head
    // closed form: o = [[6,0],[3,3]], e = [[4.5,1.5],[4.5,1.5]]
    val wantH = math.pow(6 - 4.5, 2) / 4.5 + math.pow(0 - 1.5, 2) / 1.5 +
      math.pow(3 - 4.5, 2) / 4.5 + math.pow(3 - 1.5, 2) / 1.5
    assert(math.abs(h.getDouble(4) - wantH) < 1e-3, s"got ${h.get(4)}")
  }

  test("reconcile: identical copies all match; one dropped row and one " +
    "perturbed value each flag exactly their bucket") {
    import spark.implicits._
    val a = (0 until 200).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val same = Validate.reconcile(a, a, "k", Seq("k", "v"), buckets = 16)
      .collect()
    assert(same.forall(_.getBoolean(5)), "identical sides must match")
    // drop one row: exactly one bucket shows n_a = n_b + 1
    val dropped = a.filter(col("k") =!= 42L)
    val d = Validate.reconcile(a, dropped, "k", Seq("k", "v"), 16)
      .collect().filter(!_.getBoolean(5))
    assert(d.length == 1 && d.head.getLong(1) == d.head.getLong(2) + 1,
      s"one dropped row flags one bucket: ${d.toSeq}")
    // perturb one value: counts equal, exactly one checksum differs
    val perturbed = a.withColumn("v",
      when(col("k") === 7L, lit("changed")).otherwise(col("v")))
    val p = Validate.reconcile(a, perturbed, "k", Seq("k", "v"), 16)
      .collect().filter(!_.getBoolean(5))
    assert(p.length == 1 && p.head.getLong(1) == p.head.getLong(2)
      && p.head.getLong(3) != p.head.getLong(4),
      s"one perturbed value flags one bucket by checksum: ${p.toSeq}")
  }

  test("reconcile: rows differing only in WHICH column is NULL " +
    "mismatch (the concat_ws separator-drop collision class)") {
    import spark.implicits._
    // (x, NULL) vs (NULL, x): a bare concat_ws renders both as 'x',
    // the single-row corruption the null-flag rendering must catch
    val a = Seq((1L, Option("x"), Option.empty[String]),
      (2L, Option("y"), Option("z"))).toDF("k", "c1", "c2")
    val b = Seq((1L, Option.empty[String], Option("x")),
      (2L, Option("y"), Option("z"))).toDF("k", "c1", "c2")
    val r = Validate.reconcile(a, b, "k", Seq("c1", "c2"), buckets = 4)
      .collect()
    assert(r.exists(!_.getBoolean(5)),
      s"null-position swap must flag a bucket: ${r.toSeq}")
    // and a value that literally equals the null sentinel still
    // distinguishes from an actual NULL ('vn' vs 'n' renderings)
    val c = Seq((1L, Option("n"))).toDF("k", "c1")
    val d = Seq((1L, Option.empty[String])).toDF("k", "c1")
    val r2 = Validate.reconcile(c, d, "k", Seq("c1"), buckets = 1)
      .collect()
    assert(r2.exists(!_.getBoolean(5)), "literal 'n' is not NULL")
  }

  test("welchTTest: textbook unequal-variance example, constant groups " +
    "give NULL t, never significant") {
    import spark.implicits._
    val df = (Seq(1.0, 2.0, 3.0, 4.0).map(("a", _)) ++
      Seq(2.0, 4.0, 6.0, 8.0).map(("b", _))).toDF("g", "x")
    val r = Profile.welchTTest(df, "g", "x", "a", "b").collect().head
    assert(r.getLong(0) == 4 && r.getLong(1) == 4)
    assert(r.getDouble(2) == 2.5 && r.getDouble(3) == 5.0)
    assert(r.getDouble(4) == -2.5)
    assert(math.abs(r.getDouble(5) - -1.7321) < 1e-4)
    assert(math.abs(r.getDouble(6) - 4.41) < 1e-9)
    assert(!r.getBoolean(7), "t = -1.73 is not significant at z-95%")
    // constant equal groups: zero pooled variance -> NULL t, false flag
    val const = (Seq.fill(3)(("a", 5.0)) ++ Seq.fill(3)(("b", 5.0)))
      .toDF("g", "x")
    val c = Profile.welchTTest(const, "g", "x", "a", "b").collect().head
    assert(c.isNullAt(5) && !c.getBoolean(7))
    intercept[IllegalArgumentException] {
      Profile.welchTTest(df, "g", "x", "a", "a")
    }
  }

  test("gainsTable: perfect ranking concentrates gain in the top " +
    "deciles, lift closed form") {
    import spark.implicits._
    // scores 10..1, positives at the top two: a perfect ranker
    val df = (1 to 10).map(i => (i.toDouble, i >= 9)).toDF("score", "label")
    val got = Profile.gainsTable(df, "score", "label")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(got(1L) == ((1L, 1L, 0.5, 5.0)),
      s"top decile: half the positives at 10% of rows = lift 5: $got")
    assert(got(2L) == ((1L, 1L, 1.0, 5.0)))
    // all positives captured by decile 2; tail deciles stay at gain 1
    assert(got(10L)._3 == 1.0 && got(10L)._4 == 1.0)
    assert(got.values.map(_._1).sum == 10L)
  }

  test("corrMatrix: perfect/anti correlation, constant column NULL, " +
    "pairwise-complete counting") {
    import spark.implicits._
    val df = Seq((1.0, 2.0, -1.0, 5.0, Some(1.0)),
      (2.0, 4.0, -2.0, 5.0, None.asInstanceOf[Option[Double]]),
      (3.0, 6.0, -3.0, 5.0, Some(3.0)))
      .toDF("x", "y2", "neg", "const", "holey")
    val got = Profile.corrMatrix(df, Seq("x", "y2", "neg", "const", "holey"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(got.size == 10)
    assert(got(("x", "y2")) == ((3L, Some(1.0))))
    assert(got(("x", "neg")) == ((3L, Some(-1.0))))
    assert(got(("x", "const")) == ((3L, None)), "zero variance -> NULL")
    // pairwise-complete: holey has 2 obs; x vs holey over rows 1,3 only
    assert(got(("x", "holey")) == ((2L, Some(1.0))))
  }

  test("rakeKeywords: textbook degree/frequency scores, stopwords " +
    "delimit and never appear, top-k deterministic") {
    import spark.implicits._
    // candidates: "deep learning" | "deep model" | "model"
    // freq: deep 2, learning 1, model 2; deg: deep 4, learning 2, model 3
    // scores: deep 2, learning 2, model 1.5
    val df = Seq((1L, "deep learning the deep model a model"))
      .toDF("doc_id", "text")
    val got = TextMetrics.rakeKeywords(df, "text", "doc_id",
        stopwords = Seq("the", "a"), k = 5)
      .collect().map(r => r.getString(1) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(got == Map(
      "deep learning" -> ((2L, 4.0, 1L)),
      "deep model" -> ((2L, 3.5, 2L)),
      "model" -> ((1L, 1.5, 3L))))
    // a doc of only stopwords yields no candidates
    val empty = TextMetrics.rakeKeywords(
      Seq((2L, "the a the")).toDF("doc_id", "text"),
      "text", "doc_id", Seq("the", "a"))
    assert(empty.count() == 0)
    intercept[IllegalArgumentException] {
      TextMetrics.rakeKeywords(df, "text", "doc_id", Seq.empty)
    }
  }

  test("bootstrapCI: constant series collapses the CI, single row is " +
    "its own bound, deterministic across runs, CI brackets the mean") {
    import spark.implicits._
    // constant values: every surviving resample mean == the constant
    val const = (0 until 40).map(i => ("c", i.toLong, 7.0))
      .toDF("g", "id", "x")
    val c = Profile.bootstrapCI(const, "g", "id", "x", b = 16)
      .collect().head
    assert(c.getDouble(1) == 7.0 && c.getDouble(2) == 7.0
      && c.getDouble(3) == 7.0)
    assert(c.getLong(4) <= 16)
    // single-row group: resample mean is x whenever m > 0
    val one = Seq(("s", 1L, 3.5)).toDF("g", "id", "x")
    val o = Profile.bootstrapCI(one, "g", "id", "x", b = 16).collect().head
    assert(o.getDouble(2) == 3.5 && o.getDouble(3) == 3.5)
    // deterministic hash draws: identical output on a rerun; CI brackets
    val df = (0 until 60).map(i => ("g", i.toLong, (i % 13).toDouble))
      .toDF("g", "id", "x")
    val r1 = Profile.bootstrapCI(df, "g", "id", "x").collect().head
    val r2 = Profile.bootstrapCI(df, "g", "id", "x").collect().head
    assert(r1 == r2)
    assert(r1.getDouble(2) <= r1.getDouble(1)
      && r1.getDouble(1) <= r1.getDouble(3),
      s"CI [${r1.getDouble(2)}, ${r1.getDouble(3)}] " +
      s"must bracket mean ${r1.getDouble(1)}")
    intercept[IllegalArgumentException] {
      Profile.bootstrapCI(df, "g", "id", "x", b = 1)
    }
  }

  test("clusterStats: hand fixture sizes [3,1,1]") {
    import spark.implicits._
    val assign = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"),
      (5L, "c")).toDF("id", "cl")
    val r = Dedup.clusterStats(assign, "id", "cl").collect().head
    assert(r.getLong(0) == 5 && r.getLong(1) == 3 && r.getLong(2) == 2)
    assert(r.getDouble(3) == 0.4)
    assert(r.getLong(4) == 2 && r.getLong(5) == 3)
  }

  test("weightDiagnostics: constant weights are free, planted skew " +
    "matches closed form, deff = 1 + cv^2, nonpositive excluded") {
    import spark.implicits._
    // constant weights: ESS = n, deff = 1, cv = 0 (ulp guard, not NaN)
    val const = Seq.fill(5)(("g", 2.5)).toDF("grp", "w")
    val c = Profile.weightDiagnostics(const, "grp", "w").collect().head
    assert(c.getLong(1) == 5 && c.getDouble(3) == 5.0
      && c.getDouble(4) == 1.0 && c.getDouble(5) == 0.0)
    // planted skew: w = [1,1,1,1,4] -> s1=8, s2=20, ESS=3.2, deff=1.5625
    val skew = (Seq.fill(4)(1.0) :+ 4.0).map(("s", _)).toDF("grp", "w")
    val s = Profile.weightDiagnostics(skew, "grp", "w").collect().head
    assert(s.getDouble(3) == 3.2 && s.getDouble(4) == 1.5625)
    // Kish identity: deff == 1 + cv^2 (population cv)
    assert(math.abs(s.getDouble(4) - (1 + math.pow(s.getDouble(5), 2)))
      < 1e-3)
    assert(s.getDouble(8) == 4.0) // w_ratio
    // NULL / nonpositive weights carry no estimation mass
    val dirty = Seq(("d", Some(1.0)), ("d", Some(-3.0)), ("d", None),
      ("d", Some(1.0))).toDF("grp", "w")
    val d = Profile.weightDiagnostics(dirty, "grp", "w").collect().head
    assert(d.getLong(1) == 2 && d.getDouble(2) == 2.0)
  }

  test("benford: arithmetic leading digit, empty digits materialize, " +
    "chi2 of a missing digit is its expectation") {
    import spark.implicits._
    val df = Seq(1.5, 15.0, 0.19, 2.0, -3000.0).toDF("v")
    val got = Profile.benford(df, "v").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.size == 9)
    assert(got(1L)._1 == 3L && got(2L)._1 == 1L && got(3L)._1 == 1L)
    assert((4L to 9L).forall(got(_)._1 == 0L))
    assert(got(1L)._2 == 0.6)
    assert(math.abs(got(1L)._3 - math.log10(2.0)) < 1e-6)
    // digit 9 absent: chi2 term = (0 - E)^2 / E = E = n * log10(1+1/9)
    val e9 = 5.0 * math.log10(1.0 + 1.0 / 9)
    assert(math.abs(got(9L)._4 - e9) < 1e-4)
    // zero and NULL carry no leading digit
    val z = Profile.benford(Seq(Some(0.0), None, Some(1.0)).toDF("v"), "v")
      .agg(sum("n")).collect()(0).getLong(0)
    assert(z == 1L)
  }

  test("concentration: hand Gini/HHI, uniform is 0, degenerate is max") {
    import spark.implicits._
    // counts a:1 b:1 c:2 -> sorted [1,1,2]: G = 2*9/(3*4) - 4/3 = 1/6
    val df = Seq("a", "b", "c", "c").toDF("k")
    val r = Profile.concentration(df, "k").collect().head
    assert(r.getLong(0) == 3L && r.getDouble(1) == 4.0)
    assert(math.abs(r.getDouble(2) - 1.0 / 6) < 1e-4)
    assert(r.getDouble(3) == 0.375) // (1+1+4)/16
    assert(r.getDouble(4) == 0.5)
    // weighted form reproduces the same numbers from a weight column
    val wdf = Seq(("a", 1.0), ("b", 1.0), ("c", 2.0)).toDF("k", "w")
    val rw = Profile.concentration(wdf, "k", "w").collect().head
    assert(rw.getDouble(2) == r.getDouble(2) && rw.getDouble(3) == r.getDouble(3))
    // perfectly even mass -> gini 0; all mass on one key -> (n-1)/n
    val even = Seq("a", "b", "c", "d").toDF("k")
    assert(Profile.concentration(even, "k").collect().head.getDouble(2) == 0.0)
  }

  test("cohenKappa: the textbook 2x2 table, chance-only agreement is 0, " +
    "degenerate constant raters are 1") {
    import spark.implicits._
    // confusion [[20 yy, 5 yn], [10 ny, 15 nn]]: po=.7, pe=.5, kappa=.4
    val rows = Seq.fill(20)(("y", "y")) ++ Seq.fill(5)(("y", "n")) ++
      Seq.fill(10)(("n", "y")) ++ Seq.fill(15)(("n", "n"))
    val r = Profile.cohenKappa(rows.toDF("a", "b"), "a", "b").collect().head
    assert(r.getLong(0) == 50L && r.getDouble(1) == 0.7 &&
      r.getDouble(2) == 0.5 && r.getDouble(3) == 0.4)
    // NULLs excluded from the mass
    val withNull = rows ++ Seq((null, "y"), ("y", null))
    val rn = Profile.cohenKappa(withNull.toDF("a", "b"), "a", "b")
      .collect().head
    assert(rn.getLong(0) == 50L && rn.getDouble(3) == 0.4)
    // both raters constant and equal: pe = 1 -> kappa 1 by convention
    val const = Seq.fill(4)(("y", "y")).toDF("a", "b")
    assert(Profile.cohenKappa(const, "a", "b").collect().head.getDouble(3) == 1.0)
  }

  test("temperatureSample: closed-form sqrt quotas at T=2, T=1 is the " +
    "identity, smallest domain survives whole") {
    import spark.implicits._
    // counts [100, 25, 4] at T=2: w = [10, 5, 2], rmin = 2,
    // quotas = [20, 10, 4] — the 4-row domain keeps everything
    val df = ((0 until 100).map(i => (i.toLong, "big")) ++
      (200 until 225).map(i => (i.toLong, "mid")) ++
      (300 until 304).map(i => (i.toLong, "tiny")))
      .toDF("id", "dom")
    val sizes = Sampling.temperatureSample(df, "dom", "id", 2.0)
      .groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == Map("big" -> 20L, "mid" -> 10L, "tiny" -> 4L))
    // T = 1: w_d = n_d, every ratio is 1, every quota is n_d — identity
    assert(Sampling.temperatureSample(df, "dom", "id", 1.0).count()
      == 129)
    // deterministic across input order
    val a = Sampling.temperatureSample(df, "dom", "id", 2.0)
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    val b = Sampling.temperatureSample(df.orderBy(desc("id")), "dom",
      "id", 2.0).collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(a == b)
  }

  test("balancedSample: every class lands exactly min-class-size rows, " +
    "cap tightens, selection is md5-deterministic") {
    import spark.implicits._
    val df = ((0 until 40).map(i => (i.toLong, "big")) ++
      (100 until 107).map(i => (i.toLong, "small")))
      .toDF("id", "cls")
    val got = Sampling.balancedSample(df, "cls", "id")
    val sizes = got.groupBy("cls").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == Map("big" -> 7L, "small" -> 7L))
    // deterministic: same input (any row order) -> same ids
    val ids1 = got.collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = Sampling.balancedSample(df.orderBy(desc("id")), "cls", "id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == ids2)
    // small class fully kept (it IS the minimum)
    assert(ids1.count(_ >= 100) == 7)
    // cap below the min class size binds every class
    val capped = Sampling.balancedSample(df, "cls", "id", cap = 3)
      .groupBy("cls").count().collect().map(_.getLong(1))
    assert(capped.forall(_ == 3L))
    // reserved-column collision rejected
    intercept[IllegalArgumentException] {
      Sampling.balancedSample(df.withColumn("_rank", lit(1)), "cls", "id")
    }
  }

  test("splitAssign: pure function of id (append/partitioning stable), " +
    "fractions honored, guards") {
    import spark.implicits._
    val big = spark.range(0, 2000).select(col("id"))
    val s1 = Sampling.splitAssign(big, "id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // shares near 90/5/5 on 2000 uniform hash draws
    val shares = s1.values.groupBy(identity).view.mapValues(_.size / 2000.0)
    assert(math.abs(shares("train") - 0.9) < 0.03, shares.toMap.toString)
    assert(math.abs(shares("val") - 0.05) < 0.02)
    assert(math.abs(shares("test") - 0.05) < 0.02)
    // a 10-row subset, repartitioned, assigns identically (no re-draws)
    val sub = Sampling.splitAssign(
        spark.range(0, 10).select(col("id")).repartition(7), "id")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(sub.forall { case (id, sp) => s1(id) == sp })
    // guards: fractions must sum to 1 and be positive
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(big, "id", Seq("a" -> 0.5, "b" -> 0.4))
    }
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(big, "id", Seq("a" -> 1.5, "b" -> -0.5))
    }
  }

  test("kfoldAssign: leak key pins duplicates to ONE fold, folds " +
    "hash-balanced, assignment append-stable, guards") {
    import spark.implicits._
    // duplicated content across distinct ids: every copy shares a fold
    val docs = spark.range(0, 300)
      .select(col("id"), concat(lit("text-"), col("id") % 40).as("text"))
    val f = Sampling.kfoldAssign(docs, md5(col("text")), k = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(3)))
    val byText = f.groupBy(_._2).view.mapValues(_.map(_._3).distinct)
    assert(byText.values.forall(_.size == 1),
      "a leak key straddled folds: " +
        byText.filter(_._2.size > 1).keys.mkString(", "))
    // every fold in [0, 5) is populated on 40 uniform keys
    val folds = f.map(_._3).distinct.sorted
    assert(folds.forall(fd => fd >= 0 && fd < 5), folds.mkString(","))
    assert(folds.length >= 4, s"degenerate balance: ${folds.mkString(",")}")
    // append-stable: a subset assigns identically after repartitioning
    val sub = Sampling.kfoldAssign(docs.limit(10).repartition(7),
        md5(col("text")), k = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    val full = f.map(r => r._1 -> r._3).toMap
    assert(sub.forall { case (id, fd) => full(id) == fd })
    intercept[IllegalArgumentException] {
      Sampling.kfoldAssign(docs, md5(col("text")), k = 1)
    }
    intercept[IllegalArgumentException] {
      Sampling.kfoldAssign(docs.withColumn("fold", lit(1)),
        md5(col("text")), k = 5)
    }
  }

  test("entropyProfile + mutualInfo: closed forms, nulls out of the mass") {
    import spark.implicits._
    val df = Seq(
      (Some("a"), Some(1)), (Some("a"), Some(1)),
      (Some("b"), Some(2)), (Some("b"), None))
      .toDF("x", "y")
    val e = Profile.entropyProfile(df, Seq("x", "y")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    // x: 2/2 split -> H = ln 2, norm 1; y: counts 2,1 over 3 non-null
    assert(e("x") == ((4L, 0L, 2L, 0.6931, 1.0)))
    val hy = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3))
    assert(e("y")._1 == 4L && e("y")._2 == 1L && e("y")._3 == 2L)
    assert(math.abs(e("y")._4 - hy) < 1e-4)
    // single-valued column: entropy and norm both 0
    val e1 = Profile.entropyProfile(df.select(lit("k").as("z")), Seq("z"))
      .collect().head
    assert(e1.getDouble(4) == 0.0 && e1.getDouble(5) == 0.0)
    // perfectly dependent pair: MI = ln 2; independent pair: MI = 0
    val dep = Seq(("a", 1), ("a", 1), ("b", 2), ("b", 2)).toDF("p", "q")
    val mi1 = Profile.mutualInfo(dep, "p", "q").collect().head
    assert(math.abs(mi1.getDouble(3) - 0.6931) < 1e-9)
    assert(mi1.getLong(0) == 4L && mi1.getLong(1) == 2L)
    val ind = Seq(("a", 1), ("a", 2), ("b", 1), ("b", 2)).toDF("p", "q")
    assert(Profile.mutualInfo(ind, "p", "q").collect().head.getDouble(3)
      == 0.0)
  }

  test("oovRate: closed-form coverage incl. empty doc and all-OOV doc") {
    import spark.implicits._
    val d = Seq((1L, "a b a c"), (2L, ""), (3L, "x y"), (4L, "a x"))
      .toDF("id", "text")
    val vocab = Seq("a", "b", "b").toDF("term") // dup vocab rows collapse
    val got = TextMetrics.oovRate(d, "text", "id", vocab, "term").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((4L, 1L, 0.25))) // only 'c' is OOV
    assert(got(2L) == ((0L, 0L, 0.0))) // empty doc stays in the report
    assert(got(3L) == ((2L, 2L, 1.0)))
    assert(got(4L) == ((2L, 1L, 0.5)))
  }

  test("psiDrift: closed-form two-bin index, clamping, null drift is ~zero") {
    import spark.implicits._
    val ref = (0 until 10).map(i => Tuple1(i.toDouble)).toDF("v")
    val cur = (0 until 10).map(_ => Tuple1(9.0)).toDF("v")
    val rows = Profile.psiDrift(ref, cur, "v", bins = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4),
        r.getDouble(7)))).toMap
    // ref splits 5/5 at the 4.5 midpoint; cur is all in bin 1
    assert(rows(0L)._1 == 5L && rows(1L)._1 == 5L)
    assert(rows(0L)._2 == 0L && rows(1L)._2 == 10L)
    val eps = 1e-4
    val c0 = (eps - 0.5) * math.log(eps / 0.5)
    val c1 = (1.0 - 0.5) * math.log(1.0 / 0.5)
    assert(math.abs(rows(0L)._3 - c0) < 1e-6)
    assert(math.abs(rows(1L)._3 - c1) < 1e-6)
    // values beyond the reference grid clamp into the edge bins
    val wild = Seq(Tuple1(-100.0), Tuple1(500.0)).toDF("v")
    val clamped = Profile.psiDrift(ref, wild, "v", bins = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(clamped == Map(0L -> 1L, 1L -> 1L))
    // same distribution against itself: every contribution is ~0
    val self = Profile.psiDrift(ref, ref, "v", bins = 4)
      .agg(max(abs(col("contrib")))).head().getDouble(0)
    assert(self < 1e-12)
  }

  test("compactionPlan: bins fill to target, crossing file overflows, " +
    "big files isolate, plan is idempotent") {
    import spark.implicits._
    val inv = Seq(
      ("p1", "a", 400L), ("p1", "b", 400L), ("p1", "c", 400L), // c crosses
      ("p1", "d", 5000L), // oversized: alone in its own bin
      ("p1", "e", 100L),
      ("p2", "a", 50L)).toDF("part", "file", "bytes")
    val got = Layout.compactionPlan(inv, "part", "file", "bytes", 1000L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    // cumulative-before: a=0 b=400 c=800 d=1200 e=6200
    assert(got(("p1", "a")) == ((0L, 0L)))
    assert(got(("p1", "b")) == ((0L, 400L)))
    assert(got(("p1", "c")) == ((0L, 800L))) // crossing file stays in bin 0
    assert(got(("p1", "d")) == ((1L, 200L)))
    assert(got(("p1", "e")) == ((6L, 200L))) // after the giant, new bin
    assert(got(("p2", "a")) == ((0L, 0L)))  // partitions are independent
    // one keyed Exchange, no SinglePartition funnel
    val plan = Layout.compactionPlan(inv, "part", "file", "bytes", 1000L)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("groupCentroids + centroidOutliers: planted off-topic vector flags") {
    import spark.implicits._
    // label 0 clusters near e1; vec 99 points the opposite way
    val base = (0 until 20).map(i =>
      (i.toLong, 0, Array(1.0f, 0.01f * i, 0.0f)))
    val off = Seq((99L, 0, Array(-1.0f, 0.2f, 0.0f)))
    val other = (100 until 110).map(i => (i.toLong, 1, Array(0.0f, 1.0f, 0.05f * (i - 100))))
    val df = (base ++ off ++ other).toDF("vec_id", "label", "embedding")
    val cents = Similarity.groupCentroids(df, "embedding", "label")
    assert(cents.count() == 2)
    val c0 = cents.filter(col("label") === 0).select("centroid")
      .head().getSeq[Double](0)
    assert(c0.head > 0.8, s"centroid should stay near e1: $c0")
    val out = Similarity.centroidOutliers(df, "vec_id", "embedding",
      "label", bottomK = 1).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out(0) == 99L) // the planted off-topic vector is the outlier
  }

  test("paretoFront: staircase survivors, dominated and tied-y drops, " +
    "duplicate frontier points all survive") {
    import spark.implicits._
    // perX maxima: 1->5, 2->7, 3->4; walking x desc: (3,4) keeps (no
    // greater x), (2,7) keeps (7 > 4), (1,5) drops (5 < 7)
    val df = Seq((1.0, 5.0, "a"), (2.0, 3.0, "b"), (2.0, 7.0, "c"),
      (3.0, 4.0, "d"), (3.0, 4.0, "d2")).toDF("x", "y", "tag")
    val out = Sampling.paretoFront(df, "x", "y").collect()
      .map(_.getString(2)).sorted
    assert(out.toSeq == Seq("c", "d", "d2"), out.mkString(","))
    // equal y at greater x DOMINATES (>= both, > on x): (1,5) vs (2,5)
    val eq = Seq((1.0, 5.0, "lo"), (2.0, 5.0, "hi")).toDF("x", "y", "tag")
    val e = Sampling.paretoFront(eq, "x", "y").collect()
      .map(_.getString(2))
    assert(e.toSeq == Seq("hi"), e.mkString(","))
  }

  test("mannWhitney: closed-form U with and without ties, degenerate " +
    "all-tied gives NULL z") {
    import spark.implicits._
    // no ties: A={1,3,5}, B={2,4} -> ranks 1..5, R_a=9, U_a=9-6=3,
    // auc=3/6=0.5, z=(3-3)/sqrt(3)=0
    val df = (Seq(1.0, 3.0, 5.0).map(("a", _)) ++
      Seq(2.0, 4.0).map(("b", _))).toDF("g", "x")
    val r = Profile.mannWhitney(df, "g", "x", "a", "b").collect().head
    assert(r.getLong(0) == 3 && r.getLong(1) == 2, s"$r")
    assert(r.getDouble(2) == 3.0, s"u_a: $r")
    assert(r.getDouble(3) == 0.5, s"auc: $r")
    assert(r.getDouble(4) == 0.0, s"z: $r")
    assert(!r.getBoolean(5), s"z=0 is not significant: $r")
    // ties: A={1,2}, B={2,3} -> avg ranks 1, 2.5, 2.5, 4; R_a=3.5,
    // U_a=0.5, auc=0.125; tie term (2^3-2)=6 ->
    // sigma^2 = (4/12)*((4+1) - 6/(4*3)) = 1.5, z = -1.5/sqrt(1.5)
    val tied = (Seq(1.0, 2.0).map(("a", _)) ++
      Seq(2.0, 3.0).map(("b", _))).toDF("g", "x")
    val t = Profile.mannWhitney(tied, "g", "x", "a", "b").collect().head
    assert(t.getDouble(2) == 0.5, s"u_a: $t")
    assert(t.getDouble(3) == 0.125, s"auc: $t")
    assert(math.abs(t.getDouble(4) - -1.2247) < 1e-9, s"z: $t")
    // degenerate: every value tied across groups -> sigma 0 -> NULL z,
    // never significant
    val const = (Seq.fill(3)(("a", 7.0)) ++ Seq.fill(3)(("b", 7.0)))
      .toDF("g", "x")
    val c = Profile.mannWhitney(const, "g", "x", "a", "b").collect().head
    assert(c.isNullAt(4) && !c.getBoolean(5), s"$c")
    intercept[IllegalArgumentException] {
      Profile.mannWhitney(df, "g", "x", "a", "a")
    }
  }

  test("spearman: monotone is exactly 1, tie-averaged closed form, " +
    "anti-monotone is -1") {
    import spark.implicits._
    // strictly monotone (nonlinear) -> rank-perfect rho = 1
    val mono = Seq((1.0, 1.0), (2.0, 4.0), (3.0, 9.0), (4.0, 16.0))
      .toDF("x", "y")
    val m = Profile.spearman(mono, "x", "y").collect().head
    assert(m.getLong(0) == 4 && m.getDouble(1) == 1.0, s"$m")
    // ties: x=(1,1,2,3), y=(10,20,20,30) -> avg ranks
    // rx=(1.5,1.5,3,4), ry=(1,2.5,2.5,4) -> Pearson = 3.75/4.5 = 0.8333
    val tied = Seq((1.0, 10.0), (1.0, 20.0), (2.0, 20.0), (3.0, 30.0))
      .toDF("x", "y")
    val t = Profile.spearman(tied, "x", "y").collect().head
    assert(t.getLong(0) == 4 && t.getDouble(1) == 0.8333, s"$t")
    // anti-monotone -> -1
    val anti = Seq((1.0, 9.0), (2.0, 4.0), (3.0, 1.0)).toDF("x", "y")
    assert(Profile.spearman(anti, "x", "y").collect().head
      .getDouble(1) == -1.0)
  }

  test("bhAdjust: step-up running min, clamp to 1, alpha cut") {
    import spark.implicits._
    // p = (.005, .011, .02, .8), m=4: adj(4)=.8; adj(3)=min(4*.02/3,.8)
    // = .026667; adj(2)=min(4*.011/2, .026667)=.022; adj(1)=min(.02,.022)
    // = .02 — the step-up makes adj(1) LARGER than 4*.005/1 would not be
    // (monotone by construction)
    val df = Seq(("t1", 0.005), ("t2", 0.011), ("t3", 0.02), ("t4", 0.8))
      .toDF("id", "p")
    val out = Profile.bhAdjust(df, "id", "p").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3),
        r.getBoolean(4))).sortBy(_._2)
    assert(out(0) == (("t1", 1L, 0.02, true)), s"${out(0)}")
    assert(out(1) == (("t2", 2L, 0.022, true)), s"${out(1)}")
    assert(out(2) == (("t3", 3L, 0.026667, true)), s"${out(2)}")
    assert(out(3) == (("t4", 4L, 0.8, false)), s"${out(3)}")
    // the j=m term of the running min is p_max (m*p_m/m), so adj is
    // always <= 1 for in-range p — the least(1,.) clamp is defensive;
    // here every rank inherits p_max=0.95, and out-of-range p is dropped
    val cl = Seq(("a", 0.9), ("b", 0.95), ("c", 1.5))
      .toDF("id", "p")
    val c = Profile.bhAdjust(cl, "id", "p").collect()
    assert(c.length == 2, "p=1.5 filtered")
    assert(c.forall(_.getDouble(3) == 0.95), c.mkString(";"))
    assert(c.forall(!_.getBoolean(4)), c.mkString(";"))
  }

  test("holmAdjust: step-down running max reproduces the sequential " +
    "rejection set, clamp to 1, rejections stop at the first failure") {
    import spark.implicits._
    // p = (.005, .01, .03, .04), m=4, walked ascending:
    // adj(1) = 4*.005 = .02; adj(2) = max(.02, 3*.01) = .03;
    // adj(3) = max(.03, 2*.03) = .06; adj(4) = max(.06, 1*.04) = .06
    // alpha .05: reject ranks 1-2 only — rank 4's RAW (m-j+1)p = .04
    // would pass alone, but the step-down stopped at rank 3 (the
    // running max makes that mechanical)
    val df = Seq(("t1", 0.01), ("t2", 0.04), ("t3", 0.03), ("t4", 0.005))
      .toDF("id", "p")
    val out = Profile.holmAdjust(df, "id", "p").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3),
        r.getBoolean(4))).sortBy(_._2)
    assert(out(0) == (("t4", 1L, 0.02, true)), s"${out(0)}")
    assert(out(1) == (("t1", 2L, 0.03, true)), s"${out(1)}")
    assert(out(2) == (("t3", 3L, 0.06, false)), s"${out(2)}")
    assert(out(3) == (("t2", 4L, 0.06, false)), s"${out(3)}")
    // clamp: m*p can exceed 1; out-of-range p drops like bhAdjust
    val cl = Seq(("a", 0.4), ("b", 0.9), ("c", -0.1)).toDF("id", "p")
    val c2 = Profile.holmAdjust(cl, "id", "p").collect()
      .map(r => (r.getString(0), r.getDouble(3))).sortBy(_._1)
    assert(c2.length == 2, "p=-0.1 filtered")
    assert(c2(0) == (("a", 0.8)) && c2(1) == (("b", 0.9)), c2.mkString(";"))
  }
}
