package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Graph}

/**
 * Scaling evidence for the banding-pair dedup operators (SURVEY §6): wall
 * time vs corpus size at 1x/2x/4x/8x/16x the sf0.1 documents table.
 *
 * Corpus construction: copy c remaps ids into a disjoint range and
 * prefixes every word with a copy marker (`" " -> " c<c>"`, i.e. the
 * vocabulary bijection w -> c<c>w — token COUNT and distinctness are
 * unchanged, no marker tokens are inserted), so shingles and fingerprints
 * are distinct ACROSS copies while the within-copy duplicate structure is
 * identical in every copy. That makes
 * the m-fold corpus m disjoint corpora of equal pair density — the right
 * shape for measuring how banding cost grows with corpus size (a plain
 * m-fold self-union would make every doc a near-duplicate of its m-1
 * copies and inflate the OUTPUT quadratically, measuring result-size
 * growth, not operator scaling).
 *
 * Run: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.PairScaling"
 * Prints one JSON line per (op, multiple) plus a final summary with the
 * fitted log2-slope between successive doublings.
 */
object PairScaling {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Emitted pairs per wall second — the per-tier number that separates
   * banding COST from OUTPUT growth mechanically (a wall-time slope
   * above 1.0 with flat pairs/sec is the output growing, not the
   * operator degrading). -1 sentinel when a tier emits zero pairs. */
  private def pairsPerSec(pairs: Long, sec: Double): String =
    if (sec <= 0.0 || pairs <= 0L) "-1"
    else f"${pairs / sec}%.1f"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // doubling chain; SPARK_GRAFT_SCALING_MULTIPLES="1,2,4,8,16,32,64"
    // extends the evidence to the sizes where fixed scheduling overhead
    // stops dominating (SURVEY §6's 32x/64x extension)
    val multiples = sys.env.get("SPARK_GRAFT_SCALING_MULTIPLES")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 2, 4, 8, 16))
    val spark = GraftSession.forMain()

    // comma-separated op allowlist for re-measuring one tier
    val only = sys.env.get("SPARK_GRAFT_SCALING_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(name: String): Boolean = only.forall(_.contains(name))

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    def corpus(m: Int): DataFrame =
      (0 until m).map { c =>
        base.select((col("doc_id") + lit(c.toLong * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), " ", s" c$c").as("text"))
      }.reduce(_.unionAll(_))

    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "minhash_pairs" -> (d => Dedup.minhashCandidatePairs(d, "text", "doc_id")),
      // d pinned to 1: this tier measures the single-block curve (the
      // small-corpus route) so the auto tier below has its baseline
      "simhash_pairs" -> (d => Dedup.simhashCandidatePairs(d, "text",
        "doc_id", blocksPerKey = 1)),
      // the multi-block scale path (Manku-style composite keys, d=2):
      // IDENTICAL verified output (spec-pinned), ~10x fewer random band
      // collisions at h=8 — the retune for the d=1 candidate explosion
      // the 64x/128x doublings exposed (7-bit keys -> ~n²/2⁷ candidates)
      "simhash_pairs_mb" -> (d => Dedup.simhashCandidatePairs(d, "text",
        "doc_id", blocksPerKey = 2)),
      // the ROUTED operator (blocksPerKey=0, the default a knobless
      // caller gets): must track the d=1 curve below the ~240k-doc
      // crossover and the d=2 curve above it — the auto-routing claim
      // measured, not asserted
      "simhash_pairs_auto" -> (d => Dedup.simhashCandidatePairs(d, "text",
        "doc_id")),
      "ngram_jaccard" -> (d => Dedup.ngramJaccardPairs(d, "text", "doc_id")),
      // stride-1 span detection: O(tokens) span rows — the vocabulary
      // bijection keeps spans disjoint across copies, so flagged spans
      // (the within-copy natural dups) grow linearly with m by design
      "cross_doc_spans" -> (d => Dedup.crossDocSpans(d, "text", "doc_id")),
      // the full detect+cut chain (row-preserving output: one row per
      // doc); times the interval-merge cut on top of the span join. The
      // filter pins the cut into the count plan — on a bare count()
      // Catalyst eliminates the provably row-preserving join and the
      // "measurement" is an empty shell (the bench gate has the same
      // guard)
      "spans_mask" -> (d => Dedup.maskRepeatedSpans(d, "text", "doc_id")
        .filter(col("n_tokens_removed") >= 0)),
      // BPE-budgeted chunking: per-document linear explode — the guard
      // filter pins the chunk computation into the count plan (the
      // spans_mask rule)
      "chunk_bpe" -> (d => graft.ops.TextMetrics.chunkByBudget(
        d, "text", "doc_id", budget = 64)
        .filter(col("chunk_id") >= 0)),
      // asymmetric containment: candidates from the df-capped
      // rare-shingle index — the vocabulary bijection keeps shingles
      // disjoint across copies, so candidate streams grow linearly
      "containment" -> ((d: DataFrame) =>
        Dedup.containmentPairs(d, "text", "doc_id")))

    // Embedding corpus for the semantic tier: copy c remaps vec_ids into
    // a disjoint range and applies a per-copy deterministic coordinate
    // SIGN pattern — an isometry (within-copy cosines, hence within-copy
    // pair structure, are exactly preserved) that decorrelates copies
    // (cross-copy cosines of 64-dim vectors under independent sign flips
    // concentrate near 0, far under the 0.35 cut), so the m-fold corpus
    // is m disjoint pair spaces — the same shape contract as the text
    // corpus bijection above.
    val embBase = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    def embCorpus(m: Int): DataFrame =
      (0 until m).map { c =>
        embBase.select(
          (col("vec_id") + lit(c.toLong * 10000000L)).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(pmod(hash(lit(c) * 131 + i), lit(2)) === 0, x)
              .otherwise(-x)).as("embedding"))
      }.reduce(_.unionAll(_))

    val textOps = ops.filter(o => wanted(o._1))
    val results = (if (textOps.isEmpty) Seq.empty else multiples.flatMap { m =>
      // one corpus + count per multiple — shared by all the ops (the
      // untimed scan would otherwise run once per op for no benefit)
      val d = corpus(m)
      val nDocs = d.count()
      textOps.map { case (name, fn) =>
        var pairs = 0L
        val times = (0 until reps).map { _ =>
          val t0 = System.nanoTime()
          pairs = fn(d).count()
          val dt = (System.nanoTime() - t0) / 1e9
          Dedup.unpersistAll(spark)
          spark.catalog.clearCache()
          dt
        }
        val med = median(times)
        println(f"""{"op":"$name","multiple":$m,"docs":$nDocs,"pairs":$pairs,"sec":$med%.3f,"pairs_per_sec":${pairsPerSec(pairs, med)}}""")
        (name, m, nDocs, pairs, med)
      }
    }) ++ (if (!wanted("semantic_pairs")) Seq.empty else multiples.map { m =>
      // SemDeDup scaling tier. Total cost is Θ(n·k) assignment +
      // Θ(n²/k) within-cell pairs, minimized by k ∝ √n — so the sweep
      // scales k with √m and the EXPECTED log2-slope is ~1.5, the
      // operator's honest n^1.5 law (a fixed k would read ~2.0 and
      // measure the documented raise-k-with-corpus lever being ignored;
      // output pairs stay ~linear either way by the isometry contract).
      val d = embCorpus(m)
      val nVecs = d.count()
      // k OMITTED since round 10: the auto default (ceil(sqrt(n)),
      // Dedup.autoSemanticK) IS the k ∝ √n schedule this sweep used to
      // set by hand — the tier now measures that a caller touching no
      // knobs gets the minimized exponent, not just that one exists
      var pairs = 0L
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        // 0.6, not the gate query's 0.35: real embeddings are spiky
        // (dominant principal directions), so sign-decorrelated copies
        // still land ~0.2% of cross pairs above 0.35 (measured max
        // 0.56) and the OUTPUT would grow superlinearly — measuring
        // result growth, not operator cost. Above the measured cross-
        // copy maximum the disjointness contract actually holds.
        pairs = Dedup.semanticPairs(d, "embedding", "vec_id",
          iters = 2, minCosine = 0.6).count()
        val dt = (System.nanoTime() - t0) / 1e9
        Dedup.unpersistAll(spark)
        spark.catalog.clearCache()
        dt
      }
      val med = median(times)
      println(f"""{"op":"semantic_pairs","multiple":$m,"docs":$nVecs,"pairs":$pairs,"sec":$med%.3f,"pairs_per_sec":${pairsPerSec(pairs, med)}}""")
      ("semantic_pairs", m, nVecs, pairs, med)
    })
    // Multimodal tier: image dHash decode + pigeonhole banding. Copy c
    // offsets doc_ids by 630000 (a multiple of 3, so each copy keeps the
    // fixture's 3-id group structure and planted (3g, 3g+1) near-dup
    // density) = a per-copy SCENE offset of 210000 — above the variant-2
    // scene shift (100000) plus both group ranges, so every copy's scene
    // set is disjoint from every other's (no multiple of 210000 lands in
    // the [100000±maxG] collision window while maxG < 105000; sf0.1 has
    // maxG ~1700) and cross-copy dHashes decorrelate: the m-fold corpus
    // is m disjoint pair spaces, the text-tier bijection contract. The
    // corpus persists to scratch parquet per multiple (the QueriesMm
    // rationale: production media arrives FROM STORAGE — the tier times
    // decode + banding, not the synthetic PNG encode).
    val mmResults = if (!wanted("mm_image_dhash")) Seq.empty
    else {
      val ids = base.select("doc_id")
      multiples.map { m =>
        val path = graft.ops.Scratch.dir(s"graft_scaling_image_$m") + "/corpus"
        val corpus = (0 until m).map { c =>
          ids.select((col("doc_id") + lit(c.toLong * 630000L)).as("doc_id"))
        }.reduce(_.unionAll(_))
        graft.ops.MediaFixture.images(spark, corpus)
          .repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(path)
        val d = spark.read.parquet(path)
        val nImgs = d.count()
        var pairs = 0L
        val times = (0 until reps).map { _ =>
          val t0 = System.nanoTime()
          pairs = graft.ops.Multimodal.imageNearDupPairs(
            d, "id", "payload", maxHamming = 3, bands = 4).count()
          val dt = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          dt
        }
        val med = median(times)
        println(f"""{"op":"mm_image_dhash","multiple":$m,"docs":$nImgs,"pairs":$pairs,"sec":$med%.3f,"pairs_per_sec":${pairsPerSec(pairs, med)}}""")
        ("mm_image_dhash", m, nImgs, pairs, med)
      }
    }

    // FastSS delete-mode fuzzy linkage tier: copy c prefixes every name
    // with a 6-char marker differing from every other copy's marker in
    // >= 3 positions (two base-8 letter digits, each repeated 3x), so
    // cross-copy edit distance is > 2 = maxDist and the m-fold corpus is
    // m disjoint linkage decks — candidates (deletion-variant hash join)
    // and verified pairs both grow linearly by construction. Blocks
    // (c_nationkey) deliberately MIX copies: block size growing m-fold
    // while work stays linear is exactly the delete-mode claim (the
    // block-square method this replaced would go quadratic here).
    val fuzzyResults = if (!wanted("fuzzy_delete")) Seq.empty
    else {
      val custBase = spark.read.parquet(s"$sfDir/customer.parquet")
        .select("c_custkey", "c_nationkey", "c_name")
      def custCorpus(m: Int): DataFrame =
        (0 until m).map { c =>
          val m1 = ('a' + c / 8).toChar.toString
          val m2 = ('a' + c % 8).toChar.toString
          custBase.select(
            (col("c_custkey") + lit(c.toLong * 10000000L)).as("c_custkey"),
            col("c_nationkey"),
            concat(lit(m1 * 3 + m2 * 3), col("c_name")).as("c_name"))
        }.reduce(_.unionAll(_))
      multiples.map { m =>
        require(m <= 64, s"marker space covers 64 copies: $m")
        val d = custCorpus(m)
        val nRows = d.count()
        var pairs = 0L
        val times = (0 until reps).map { _ =>
          val t0 = System.nanoTime()
          pairs = graft.ops.Linkage.fuzzySelfJoin(d, Seq("c_nationkey"),
            "c_name", "c_custkey", maxDist = 2, method = "delete").count()
          val dt = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          dt
        }
        val med = median(times)
        println(f"""{"op":"fuzzy_delete","multiple":$m,"docs":$nRows,"pairs":$pairs,"sec":$med%.3f,"pairs_per_sec":${pairsPerSec(pairs, med)}}""")
        ("fuzzy_delete", m, nRows, pairs, med)
      }
    }

    // Link-prediction scaling tiers. Two sweeps, two claims:
    //  - link_pred_nodes: m DISJOINT copies of the graph (node ids
    //    offset per copy) — node count grows, degrees constant, so the
    //    wedge join's Σ deg² cost grows LINEARLY: the scale-out claim.
    //  - link_pred (density): EDGES m× on the SAME 997 nodes via the
    //    (2c+1) residue bijection (997 prime: any nonzero multiplier
    //    is a bijection). The documented envelope is Σ deg² ∝ m², but
    //    a 997-node graph SATURATES (candidate pairs cap at C(997,2)),
    //    so the measured slope lands between 1 and 2 — recorded as-is:
    //    density sweeps on a small fixed node set hit completeness
    //    before they exhibit the clean quadratic, which is itself the
    //    honest reading. (A first cut also pinned maxWedgeDegree at
    //    the base graph's own max degree: at 2× density EVERY center
    //    exceeded it and candidates went to exactly 0 — the hub guard
    //    is a hard gate sized to EXPECTED degree, not a soft degrade;
    //    kept as a doc note, not a misleading 0-row series.)
    // Base thinned 10x so the density 8x point stays seconds.
    //  - link_pred_sampled: the SAME density sweep in wedge-sampled
    //    mode (sampleDegree=64): per-center work caps at ~s² no matter
    //    how dense the graph gets, so the claim is slope <= ~1.0 where
    //    the exact density sweep reads 1.1-1.5 — the scale-safe form
    //    for hub-heavy host graphs (r16 verdict task: the default hub
    //    gate admits ~5e7 wedges per 1e4-degree hub; sampling replaces
    //    the gate with an unbiased ratio estimator).
    val linkResults = if (!wanted("link_pred") && !wanted("link_pred_nodes")
        && !wanted("link_pred_sampled"))
      Seq.empty
    else {
      val ordersDf = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_custkey"), col("o_orderkey"))
      def densityCorpus(m: Int): DataFrame =
        (0 until m).map { c =>
          val mult = lit((2 * c + 1).toLong)
          ordersDf.select(
            pmod(col("o_custkey") * mult, lit(997L)).as("src"),
            pmod(col("o_orderkey") * mult, lit(997L)).as("dst"))
        }.reduce(_.unionAll(_))
      def nodesCorpus(m: Int): DataFrame =
        (0 until m).map { c =>
          val off = lit(c.toLong * 10000L)
          ordersDf.select(
            (pmod(col("o_custkey"), lit(997L)) + off).as("src"),
            (pmod(col("o_orderkey"), lit(997L)) + off).as("dst"))
        }.reduce(_.unionAll(_))
      Seq(1, 2, 4, 8).flatMap { m =>
        Seq(("link_pred", densityCorpus _, 0),
            ("link_pred_nodes", nodesCorpus _, 0),
            ("link_pred_sampled", densityCorpus _, 64))
          .filter { case (nm, _, _) => wanted(nm) }
          .map { case (nm, mk, s) =>
            val e = mk(m)
            var pairs = 0L
            val times = (0 until reps).map { _ =>
              val t0 = System.nanoTime()
              pairs = Graph.linkPrediction(e, "src", "dst",
                sampleDegree = s).count()
              (System.nanoTime() - t0) / 1e9
            }
            val med = median(times)
            println(f"""{"op":"$nm","multiple":$m,"docs":${997L * m},"pairs":$pairs,"sec":$med%.3f,"pairs_per_sec":${pairsPerSec(pairs, med)}}""")
            (nm, m, 997L * m, pairs, med)
          }
      }
    }
    val allResults = results ++ mmResults ++ fuzzyResults ++ linkResults

    // fitted slope of log2(time) per log2(size) across the doubling chain;
    // ~1.0 = linear banding cost (~1.5 for the semantic n^1.5 law),
    // 2.0 would be the all-pairs blow-up
    var flagged = List.empty[String]
    val summary = (ops.map(_._1) ++
      Seq("semantic_pairs", "mm_image_dhash", "fuzzy_delete", "link_pred",
        "link_pred_nodes", "link_pred_sampled"))
      .filter(wanted)
      .filter(name => allResults.exists(_._1 == name)).map { name =>
      val rs = allResults.filter(_._1 == name).sortBy(_._2)
      val slopes = rs.sliding(2).map { case Seq(a, b) =>
        math.log(b._5 / a._5) / math.log(b._2.toDouble / a._2)
      }.toSeq
      // -1.0 sentinel when the base corpus has no candidate pairs: a 0/0
      // here would emit NaN, which is not valid JSON and would sink the
      // whole metrics line at the collector
      val linearProjection = rs.head._4.toDouble * rs.last._2 / rs.head._2
      val pairRatio =
        if (linearProjection == 0.0) -1.0 else rs.last._4 / linearProjection
      // slope of (sec / emitted pair) per doubling, over tiers that emit
      // pairs: ~0 = the per-pair cost is flat and any wall-time slope
      // above 1.0 is output growth (the r13 simhash-1.26 adjudication,
      // now mechanical); -99 sentinel when < 2 tiers emitted pairs
      val costSlopes = rs.filter(_._4 > 0).sliding(2).collect {
        case Seq(a, b) =>
          math.log((b._5 / b._4) / (a._5 / a._4)) /
            math.log(b._2.toDouble / a._2)
      }.toSeq
      val costSlope = if (costSlopes.isEmpty) -99.0 else median(costSlopes)
      // regression flag rule (mechanical, judge-free): a scale path
      // whose LAST doubling reads super-linear is degrading at exactly
      // the sizes the tier exists to protect — except the two series
      // DOCUMENTED super-linear by construction: link_pred's density
      // sweep (envelope is quadratic, saturation reads 1.1-1.5) and
      // simhash d=1 past its crossover (the wall the mb/auto routes fix)
      val exemptLast = Set("link_pred", "simhash_pairs")
      if (slopes.last > 1.1 && !exemptLast(name)) flagged ::= name
      f""""$name":{"slope":${median(slopes)}%.2f,"slope_last":${slopes.last}%.2f,"pair_ratio_vs_linear":$pairRatio%.3f,"cost_per_pair_slope":$costSlope%.2f}"""
    }.mkString("{", ",", "}")
    val flaggedJson = flagged.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    println(s"""{"metric":"pair_scaling","reps":$reps,"sf":"$sfDir","flag_rule":"slope_last>1.1","flagged":$flaggedJson,"exponents":$summary}""")
    spark.stop()
  }
}
