package graft.ops

import graft.GraftSparkSuite
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/**
 * Property fuzz for the curation operators' core invariants:
 *
 * - stratifiedExact: exactly min(n, |stratum|) rows per stratum, the SAME
 *   rows on every run, and append-stability — adding rows of OTHER strata
 *   never changes a stratum's sample (the property that makes incremental
 *   corpus growth reproducible).
 * - minhash banding recall: bands of size 1 guarantee (by the minhash
 *   collision argument on EQUAL shingle sets) that exact-duplicate shingle
 *   sets always collide; more generally the candidate set must contain
 *   every pair whose shingle sets are IDENTICAL, for any band layout.
 * - deterministicSample: partitioning-independence — the kept id set is
 *   identical under any repartitioning of the input.
 */
class DedupPropertySpec extends GraftSparkSuite {

  private val corpusGen: Gen[(Seq[(Long, String)], Int, Long)] = for {
    nDocs <- Gen.choose(1, 40)
    nStrata <- Gen.choose(1, 5)
    n <- Gen.choose(1, 6)
    seed <- Gen.choose(0L, 100000L)
  } yield {
    val rng = new scala.util.Random(seed)
    val docs = (0 until nDocs).map(i => (i.toLong, s"s${rng.nextInt(nStrata)}"))
    (docs, n, seed)
  }

  private val chunkGen: Gen[(Seq[(Long, String)], Int, Int)] = for {
    nDocs <- Gen.choose(1, 25)
    size <- Gen.choose(1, 12)
    stride <- Gen.choose(1, 12)
    seed <- Gen.choose(0L, 100000L)
  } yield {
    val rng = new scala.util.Random(seed)
    // includes empty and 1-char docs, and lengths around size/stride edges
    val docs = (0 until nDocs).map { i =>
      val len = rng.nextInt(40)
      (i.toLong, rng.alphanumeric.take(len).mkString)
    }
    (docs, size, stride)
  }

  test("chunk: count/coverage closed forms and exact reassembly, any size/stride") {
    import spark.implicits._
    val prop = Prop.forAll(chunkGen) { case (rows, size, stride) =>
      val df = rows.toDF("doc_id", "text").repartition(3)
      val chunks = TextMetrics.chunk(df, "text", "doc_id", size, stride)
        .collect().groupBy(_.getLong(0))
      rows.forall { case (id, text) =>
        if (text.isEmpty) !chunks.contains(id)
        else {
          val cs = chunks(id).sortBy(_.getLong(1))
          val expectN = (text.length - 1) / stride + 1
          cs.length == expectN &&
            // every chunk is the exact substring it claims to be
            cs.forall { r =>
              val start = r.getLong(2).toInt
              r.getString(3) == text.substring(start,
                math.min(start + size, text.length))
            } &&
            // stride <= size means positions are covered; reassembly from
            // the non-overlapping prefixes restores the document
            (stride > size || cs.map { r =>
              val start = r.getLong(2).toInt
              val keep = math.min(stride, text.length - start)
              r.getString(3).take(keep)
            }.mkString == text)
        }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  private val packGen: Gen[(Seq[(Long, Int, Int)], Int)] = for {
    nDocs <- Gen.choose(1, 40)
    nShards <- Gen.choose(1, 4)
    budget <- Gen.choose(1, 30)
    seed <- Gen.choose(0L, 100000L)
  } yield {
    val rng = new scala.util.Random(seed)
    val docs = (0 until nDocs).map(i =>
      (i.toLong, rng.nextInt(nShards), 1 + rng.nextInt(12)))
    (docs, budget)
  }

  test("packBins equals a sequential per-shard brute-force packing") {
    import spark.implicits._
    val prop = Prop.forAll(packGen) { case (rows, budget) =>
      // docs carry their token count as repeated single-char tokens
      val df = rows.map { case (id, shard, ntok) =>
        (id, shard, Seq.fill(ntok)("t").mkString(" "))
      }.toDF("doc_id", "shard", "text").repartition(3)
      val got = TextMetrics.packBins(df, "text", "doc_id", budget, "shard")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5)))).toMap
      // driver-side reference: walk each shard in id order with a counter
      val expect = rows.groupBy(_._2).flatMap { case (_, ds) =>
        var cum = 0L
        ds.sortBy(_._1).map { case (id, _, ntok) =>
          val bin = cum / budget
          val off = cum - bin * budget
          cum += ntok
          id -> ((bin, off))
        }
      }
      got == expect
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("stratifiedExact: exact per-stratum sizes, reproducible, append-stable") {
    import spark.implicits._
    val prop = Prop.forAll(corpusGen) { case (rows, n, seed) =>
      val df = rows.toDF("id", "stratum").repartition(3)
      def sampleIds(d: org.apache.spark.sql.DataFrame): Map[String, Set[Long]] =
        Sampling.stratifiedExact(d, "stratum", "id", n, seed)
          .select("stratum", "id").collect()
          .groupBy(_.getString(0)).map { case (s, rs) =>
            s -> rs.map(_.getLong(1)).toSet
          }
      val got = sampleIds(df)
      val strata = rows.groupBy(_._2).map { case (s, rs) => s -> rs.map(_._1).toSet }
      val exactSizes = strata.forall { case (s, ids) =>
        got.getOrElse(s, Set.empty).size == math.min(n, ids.size)
      }
      val reproducible = sampleIds(df.repartition(7)) == got
      // append rows of a NEW stratum: existing strata's samples unchanged
      val appended = rows ++ rows.indices.map(i => (10000L + i, "brand_new"))
      val after = sampleIds(appended.toDF("id", "stratum"))
      val appendStable = strata.keys.forall(s => after.getOrElse(s, Set.empty) == got.getOrElse(s, Set.empty))
      exactSizes && reproducible && appendStable
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  private val dupCorpusGen: Gen[Seq[(Long, String)]] = for {
    nBase <- Gen.choose(1, 8)
    nDocs <- Gen.choose(2, 25)
    seed <- Gen.choose(0L, 100000L)
  } yield {
    val rng = new scala.util.Random(seed)
    val vocab = (0 until 12).map(i => s"w$i")
    // small base-text pool => many docs share EXACT shingle sets
    val bases = (0 until nBase).map(_ =>
      (0 until 3 + rng.nextInt(8)).map(_ => vocab(rng.nextInt(vocab.length))).mkString(" "))
    (0 until nDocs).map(i => (i.toLong, bases(rng.nextInt(nBase))))
  }

  test("minhash banding: candidates contain every identical-shingle-set pair") {
    import spark.implicits._
    val prop = Prop.forAll(dupCorpusGen) { case docs =>
      val df = docs.toDF("doc_id", "text")
      val got = Dedup.minhashCandidatePairs(df, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      Dedup.unpersistAll(spark)
      // brute-force: pairs with >= 3 tokens each and IDENTICAL shingle sets
      // MUST be candidates (equal sets => equal signatures => same bands)
      def shingleSet(t: String): Set[String] = {
        val w = t.split(" ", -1)
        (0 until w.length - 2).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
      }
      val sh = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
      val must = for {
        (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq
        if a < b && sa.nonEmpty && sa == sb
      } yield (a, b)
      must.forall(got.contains)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("paragraphDedup is idempotent: a deduped corpus passes through unchanged") {
    import spark.implicits._
    val prop = Prop.forAll(dupCorpusGen) { case docs =>
      // turn each doc into 2-4 "paragraphs" by reusing the doc text
      val withParas = docs.map { case (id, t) =>
        (id, Seq.fill(1 + (id % 3).toInt + 1)(t).mkString("\n\n"))
      }
      val once = Dedup.paragraphDedup(withParas.toDF("doc_id", "text"), "text", "doc_id")
      val onceRows = once.select(col("doc_id"), col("text_dedup"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
      val twice = Dedup.paragraphDedup(
          once.select(col("doc_id"), col("text_dedup").as("text")), "text", "doc_id")
        .select(col("doc_id"), col("text_dedup"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
      onceRows == twice
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("contamination: fractions in [0,1]; benchmark-member docs read 1.0") {
    import spark.implicits._
    val prop = Prop.forAll(dupCorpusGen) { case docs =>
      val df = docs.toDF("doc_id", "text")
      val bench = df.filter(col("doc_id") % 3 === 0)
      val out = TextMetrics.contamination(df, "text", "doc_id", bench, "text", n = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val bounded = out.forall { case (_, total, m, f) =>
        f >= 0.0 && f <= 1.0 && m <= total
      }
      // a doc IN the benchmark has every n-gram in the benchmark set
      val benchIds = docs.map(_._1).filter(_ % 3 == 0).toSet
      val members = out.filter(o => benchIds.contains(o._1))
      bounded && members.forall(_._4 == 1.0)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("deterministicSample: kept set is partitioning-independent and seed-stable") {
    import spark.implicits._
    val prop = Prop.forAll(Gen.choose(1, 60), Gen.choose(0.0, 1.0), Gen.choose(0L, 9999L)) {
      (nDocs, frac, seed) =>
        val df = (0 until nDocs).map(i => Tuple1(i.toLong)).toDF("id")
        def kept(d: org.apache.spark.sql.DataFrame) =
          Sampling.deterministicSample(d, "id", frac, seed)
            .collect().map(_.getLong(0)).toSet
        val a = kept(df.repartition(2))
        val b = kept(df.repartition(9))
        val c = kept(df.coalesce(1))
        a == b && b == c
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("connectedComponents matches a driver-side union-find on random graphs") {
    import spark.implicits._
    val graphGen: Gen[(Int, Seq[(Long, Long)])] = for {
      n <- Gen.choose(2, 60)
      nEdges <- Gen.choose(0, 90)
      seed <- Gen.choose(0L, 100000L)
    } yield {
      val rng = new scala.util.Random(seed)
      val edges = Seq.fill(nEdges)(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      (n, edges)
    }
    val prop = Prop.forAll(graphGen) { case (n, edges) =>
      // oracle: textbook union-find over the same edges
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // component label = MIN id in component among ids present in pairs
      val present = ids.map(_.toInt).toSet
      val expect = ids.map { id =>
        val root = find(id.toInt)
        val mn = present.filter(m => find(m) == root).min
        id -> mn.toLong
      }.toMap
      val got =
        if (edges.isEmpty) Map.empty[Long, Long]
        else Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == expect
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("incremental connectedComponents == full recompute on random batches") {
    import spark.implicits._
    val gen: Gen[(Seq[(Long, Long)], Seq[(Long, Long)])] = for {
      n <- Gen.choose(2, 40)
      n1 <- Gen.choose(1, 50)
      n2 <- Gen.choose(1, 30)
      seed <- Gen.choose(0L, 100000L)
    } yield {
      val rng = new scala.util.Random(seed)
      def batch(sz: Int) = Seq.fill(sz)(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      (batch(n1), batch(n2))
    }
    val prop = Prop.forAll(gen) { case (batch1, batch2) =>
      val full = Dedup.connectedComponents((batch1 ++ batch2).toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val labels1 = Dedup.connectedComponents(batch1.toDF("id_a", "id_b"))
      val incr = Dedup.connectedComponentsIncremental(
          labels1, batch2.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      incr == full
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }
}
