package graft

/**
 * Plan audits: the scale claims in SURVEY.md §6 (pushdown, pruning,
 * broadcast dims, bounded shuffle counts, no-shuffle top-k) asserted
 * against the actual physical plans so a regression in plan shape fails
 * CI, not a 100 TB run.
 */
class PlanAuditSpec extends GraftSparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q1_pricing: filter pushed to the parquet scan, schema pruned") {
    val p = plan("q1_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"no pushed filter on l_shipdate:\n$p")
    // projection pruning: the scan must NOT read unused wide columns
    assert(!p.contains("l_comment"), "scan reads l_comment (no pruning)")
    assert(!p.contains("l_shipinstruct"), "scan reads l_shipinstruct (no pruning)")
  }

  test("q3_topk and q_star_join: dimension sides broadcast") {
    assert(plan("q3_topk").contains("BroadcastHashJoin"))
    val star = plan("q_star_join")
    val n = "BroadcastHashJoin".r.findAllIn(star).length
    assert(n >= 3, s"star join should broadcast all 3 dims, found $n:\n$star")
  }

  test("ann_topk: single narrow scan + TakeOrdered, zero shuffles") {
    val p = plan("ann_topk")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$p")
    assert(!p.contains("Exchange"), s"brute-force top-k must not shuffle:\n$p")
  }

  test("dedup_exact operator: exactly one shuffle (the dedup-key exchange)") {
    // the operator itself (the gate query adds a presentational orderBy,
    // which is a second, output-only exchange)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.Dedup.exact(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    val n = "Exchange".r.findAllIn(p).length
    assert(n == 1, s"expected exactly 1 Exchange, found $n:\n$p")
  }

  test("connected-components star rounds: bounded shuffles, no nested-loop joins") {
    // each star half-round must stay a keyed groupBy + keyed equi-join +
    // distinct: at most 4 hash-partition shuffles, and never a cartesian /
    // broadcast-nested-loop shape (which would go quadratic at corpus
    // scale); the iterative driver loop multiplies whatever is here
    import spark.implicits._
    val e = (0L until 200L).map(i => (i + 1, i / 3)).toDF("u", "v")
    for ((name, round) <- Seq(
        ("largeStar", graft.ops.Dedup.largeStar(e)),
        ("smallStar", graft.ops.Dedup.smallStar(e)))) {
      val p = round.queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(shuffles <= 4, s"$name: $shuffles shuffle exchanges:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name plans a quadratic join:\n$p")
    }
  }

  test("piiScrub and chunk: narrow per-row scans, zero Exchange") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pii = graft.ops.TextMetrics.piiScrub(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!pii.contains("Exchange"), s"pii scrub must not shuffle:\n$pii")
    val ch = graft.ops.TextMetrics.chunk(docs, "text", "doc_id", 64, 32)
      .queryExecution.executedPlan.toString
    assert(!ch.contains("Exchange"), s"chunking must not shuffle:\n$ch")
    // both stay inside whole-stage codegen — the `*(n)` stage marker in
    // the plan's toString form (no UDF/interpreted break)
    assert(pii.contains("*(1)"), s"pii scrub fell out of codegen:\n$pii")
    assert(ch.contains("*(1)"), s"chunk fell out of codegen:\n$ch")
  }

  test("packBins: exactly one Exchange (the shard window), no global sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("shard", org.apache.spark.sql.functions.col("doc_id") % 16)
    val p = graft.ops.TextMetrics.packBins(docs, "text", "doc_id", 256, "shard")
      .queryExecution.executedPlan.toString
    val n = "Exchange".r.findAllIn(p).length
    assert(n == 1, s"expected exactly 1 Exchange (shard partitioning), found $n:\n$p")
    assert(p.contains("hashpartitioning(shard"),
      s"window must partition by shard, not a global single partition:\n$p")
    assert(!p.contains("SinglePartition"),
      s"packing must never serialize into one partition:\n$p")
  }

  test("gopherQuality and extractUrls: narrow codegen'd scans, zero Exchange") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val g = graft.ops.TextMetrics.gopherQuality(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!g.contains("Exchange"), s"gopher rules must not shuffle:\n$g")
    assert(g.contains("*(1)"), s"gopher rules fell out of codegen:\n$g")
    val u = graft.ops.TextMetrics.extractUrls(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!u.contains("Exchange"), s"URL extraction must not shuffle:\n$u")
    assert(u.contains("*(1)"), s"URL extraction fell out of codegen:\n$u")
  }

  test("repetitionFull: per-row lambda family stays a zero-Exchange scan") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.TextMetrics.repetitionFull(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"the repetition family must not shuffle:\n$p")
  }

  test("describeNumeric: ONE scan and one aggregation pair for k columns") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val p = graft.ops.Profile.describeNumeric(li,
        Seq("l_quantity", "l_extendedprice", "l_discount"))
      .queryExecution.executedPlan.toString
    // one partial+final aggregate pair over one FileScan — profiling k
    // columns must never plan k scans or k aggregations
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"describe must read the table exactly once:\n$p")
    assert("HashAggregate".r.findAllIn(p).length == 2,
      s"describe must be one partial+final aggregate pair:\n$p")
  }

  test("keySkew and topValues: top-k via TakeOrdered, never a global sort") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ks = graft.ops.Profile.keySkew(li, "l_suppkey", 10)
      .queryExecution.executedPlan.toString
    assert(ks.contains("TakeOrderedAndProject"), s"keySkew global-sorts:\n$ks")
    val tv = graft.ops.Profile.topValues(li.select("l_suppkey"), "l_suppkey", 10)
      .queryExecution.executedPlan.toString
    assert(tv.contains("TakeOrderedAndProject"), s"topValues global-sorts:\n$tv")
    assert(!tv.contains("Exchange rangepartitioning"),
      s"topValues must not range-shuffle for a global sort:\n$tv")
  }

  test("unigramLogProb: no broadcast hint on the vocab join (AQE decides)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val lp = graft.ops.TextMetrics.unigramLogProb(docs, "text", "doc_id")
      .queryExecution.optimizedPlan.toString
    assert(!lp.contains("ResolvedHint"), s"broadcast hint survives:\n$lp")
  }

  test("text_tfidf: vocabulary join carries no broadcast hint") {
    // the logical plan must not pin dfreq to a broadcast (a web-scale
    // vocabulary would OOM the driver); AQE may still choose one at
    // RUNTIME from measured sizes, which is fine
    val lp = SparkEntry.queries("text_tfidf")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!lp.contains("ResolvedHint"), s"broadcast hint survives:\n$lp")
  }

  test("bucketed tables: co-located join plans with zero Exchange") {
    // the 100 TB fact-to-fact pattern: both sides bucketed by the join key
    // at write time -> the sort-merge join needs no shuffle at read time
    import org.apache.spark.sql.functions._
    val wh = graft.ops.Scratch.dir("bucketwh")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_totalprice")
      li.write.mode("overwrite").option("path", s"$wh/li_b")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
      ord.write.mode("overwrite").option("path", s"$wh/ord_b")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_b")
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(sum("l_quantity").as("qty"), first("o_totalprice").as("price"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucketed co-located join must not shuffle:\n$p")
      // and it computes the same result as the plain (shuffling) join
      val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(sum("l_quantity").as("qty"), first("o_totalprice").as("price"))
      assert(joined.orderBy("o_orderkey").collect().toSeq ==
        plain.orderBy("o_orderkey").collect().toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
  }

  test("contamination: benchmark side broadcasts, corpus n-grams never shuffle") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bench = docs.filter(col("doc_id") % 25 === 0)
    val p = graft.ops.TextMetrics.contamination(docs, "text", "doc_id",
      bench, "text", n = 8).queryExecution.executedPlan.toString
    // the gram join must be a LeftSemi with the BENCHMARK side built and
    // broadcast — corpus n-grams probe it in place, they never shuffle
    assert(p.contains("LeftSemi, BuildRight"),
      s"benchmark side must broadcast-build the semi join:\n$p")
    // the only gram-keyed Exchange allowed is the benchmark's own distinct
    // (bounded by eval-set size, feeding its BroadcastExchange)
    val gramExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(g"))
    assert(gramExchanges <= 1,
      s"corpus n-grams shuffled by gram key ($gramExchanges gram exchanges):\n$p")
  }

  test("paragraph dedup: election is an aggregation, not a window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.Dedup.paragraphDedup(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    // a Window over the paragraph hash would funnel hot boilerplate
    // paragraphs through single tasks; the groupBy election must win
    assert(!p.contains("Window"), s"paragraph election uses a Window:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"election aggregation should be map-side combinable:\n$p")
  }

  test("incremental dedup: corpus index side carries no re-shingling") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val tmp = graft.ops.Scratch.dir("mhidx_plan")
    graft.ops.Dedup.minhashBandKeys(docs, "text", "doc_id")
      .write.parquet(s"$tmp/idx")
    val corpusKeys = spark.read.parquet(s"$tmp/idx")
    val newBatch = docs.limit(10)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val p = graft.ops.Dedup.minhashCandidatePairsIncremental(
        newBatch, corpusKeys, "text", "doc_id")
      .queryExecution.executedPlan.toString
    graft.ops.Dedup.unpersistAll(spark)
    // the corpus side must come from the persisted index scan, and the
    // new-batch banding work must flow through the tracked cache (every
    // documents-table subtree sits under an InMemoryTableScan reuse;
    // plan printing repeats the cached child per consumer, so counting
    // raw FileScan lines would overcount)
    assert(p.contains("mhidx_plan"), s"persisted index not scanned:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"new-batch band keys not served from the tracked cache:\n$p")
  }

  test("ebw solve: model transform is a narrow codegen'd column (no shuffle)") {
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet(s"$dir/orders.parquet").withColumn("w0", lit(1.0))
    val (dfv, labels) = graft.ebw.DesignMatrix.oneHot(orders, "o_orderpriority", "feat")
    val res = graft.ebw.EntropyBalance.entropyBalance(dfv, "feat", "w0",
      Array.fill(labels.length)(1.0 / labels.length))
    val p = res.weighted.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"weight column must stay narrow:\n$p")
  }

  test("fuzzySelfJoin: equi-join on the block key, never a nested loop") {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val p = graft.ops.Linkage.fuzzySelfJoin(cust, Seq("c_nationkey"),
        "c_name", "c_custkey", 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"fuzzy join planned as a product — blocking key lost:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join on the block key:\n$p")
  }

  test("fuzzySelfJoin delete-mode: variant-key equi-join, never a " +
    "nested loop") {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val p = graft.ops.Linkage.fuzzySelfJoin(cust, Seq("c_nationkey"),
        "c_name", "c_custkey", 2, method = "delete")
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"delete-mode planned as a product:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join on the variant key:\n$p")
    assert(p.contains("graft_del_hashes"),
      s"candidate keys must come from the compiled kernel:\n$p")
  }

  test("text-eval scores: the clip-count kernel runs inside whole-stage " +
    "codegen, and no gram-sized column ever shuffles") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text AS cand",
        "reverse(text) AS ref")
    def audit(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      df.collect() // finalize AQE so codegen stage markers are real
      val p = df.queryExecution.executedPlan.toString
      assert(p.linesIterator.exists(l =>
        l.contains("graft_clip_counts") && l.contains("*(")),
        s"$what: clip-count kernel not inside a codegen stage:\n$p")
      // the kernel's whole point: nothing gram-shaped crosses an
      // Exchange — the only shuffled frame is the narrow count rows
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
        s"$what: interpreted UDF re-entered the hot path:\n$p")
    }
    audit(graft.ops.TextEval.rougeN(docs, "doc_id", "cand", "ref", 2),
      "rougeN")
    audit(graft.ops.TextEval.bleu(docs, "doc_id", "cand", "ref", 4),
      "bleu")
    audit(graft.ops.TextEval.chrF(docs, "doc_id", "cand", "ref"),
      "chrF")
    // rougeL rides the LCS kernel instead of clip-counts — same
    // contract: codegen'd kernel, no UDF, nothing sequence-shaped
    // shuffles (the only cross-row traffic is one 3-long struct/pair)
    val rl = graft.ops.TextEval.rougeL(docs, "doc_id", "cand", "ref")
    rl.collect()
    val prl = rl.queryExecution.executedPlan.toString
    assert(prl.linesIterator.exists(l =>
      l.contains("graft_lcs") && l.contains("*(")),
      s"rougeL: LCS kernel not inside a codegen stage:\n$prl")
    assert(!prl.contains("BatchEvalPython") && !prl.contains("ScalaUDF"),
      s"rougeL: interpreted UDF re-entered the hot path:\n$prl")
  }

  test("no STATIC broadcast of an unbounded-fanout Generate subtree in " +
    "any pair operator (the phantom-broadcast audit)") {
    // Catalyst's Generate keeps its CHILD's size estimate, so a frame
    // that explodes data-dependently (split tokens, deletion variants,
    // shingles) still looks scan-sized and the STATIC planner may pick a
    // broadcast build of a data-scale side (measured round 13: 1.6 GB
    // driver broadcast at 16x, OOM at 32x). AQE's runtime conversions
    // are safe (real sizes); this audit runs with AQE OFF to see exactly
    // the static decisions, and flags any BroadcastExchange whose build
    // subtree reaches an unbounded-fanout Generate without crossing a
    // shuffle or cached-relation boundary (both of which re-anchor stats
    // to reality). Bounded explodes (literal arrays — band keys) are
    // legitimate to broadcast and exempt.
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.expressions.{Attribute, CreateArray, Literal}
    // bounded-in-BYTES generators: literal arrays (fixed fanout) and
    // STORED array columns (their elements are already counted in the
    // child's size estimate — exploding them is ~1x in bytes). What the
    // audit hunts is explode of COMPUTED arrays (deletion neighborhoods,
    // token splits, sequences) whose output bytes dwarf the scalar input
    // the estimate was taken from.
    def boundedFanout(g: GenerateExec): Boolean =
      g.generator.children.forall {
        case _: CreateArray => true
        case _: Literal => true
        case _: Attribute => true
        case _ => false
      }
    def reachableGenerates(p: SparkPlan): Seq[GenerateExec] = p match {
      case _: ShuffleExchangeExec => Nil // runtime-stat boundary
      case s if s.nodeName.contains("InMemoryTableScan") => Nil // real stats
      case g: GenerateExec if !boundedFanout(g) =>
        g +: g.children.flatMap(reachableGenerates)
      case other => other.children.flatMap(reachableGenerates)
    }
    def offenders(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case b: BroadcastExchangeExec
            if reachableGenerates(b.child).nonEmpty =>
          b.child.verboseString(2).linesIterator.take(1).mkString
      }
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    val docs = noAqe.read.parquet(s"$dir/documents.parquet")
    val cust = noAqe.read.parquet(s"$dir/customer.parquet")
    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "fuzzySelfJoin(delete)" -> (() => graft.ops.Linkage.fuzzySelfJoin(
        cust, Seq("c_nationkey"), "c_name", "c_custkey", 2,
        method = "delete")),
      "fuzzyJoin(delete)" -> (() => graft.ops.Linkage.fuzzyJoin(
        cust, cust.selectExpr("c_custkey AS k2", "c_nationkey",
          "c_name AS n2"),
        Seq("c_nationkey"), "c_name", "n2", "c_custkey", "k2", 2,
        method = "delete")),
      "minhashCandidatePairs" -> (() =>
        graft.ops.Dedup.minhashCandidatePairs(docs, "text", "doc_id")),
      "simhashCandidatePairs" -> (() =>
        graft.ops.Dedup.simhashCandidatePairs(docs, "text", "doc_id")),
      "ngramJaccardPairs" -> (() =>
        graft.ops.Dedup.ngramJaccardPairs(docs, "text", "doc_id")),
      "containmentPairs" -> (() =>
        graft.ops.Dedup.containmentPairs(docs, "text", "doc_id")),
      "crossDocSpans" -> (() =>
        graft.ops.Dedup.crossDocSpans(docs, "text", "doc_id")),
      "paragraphDedup" -> (() =>
        graft.ops.Dedup.paragraphDedup(docs, "text", "doc_id", " ")),
      "embeddingCosinePairs" -> (() =>
        graft.ops.Dedup.embeddingCosinePairs(
          noAqe.read.parquet(s"$dir/embeddings.parquet"),
          "embedding", "vec_id", dim = Some(64))))
    val bad = cases.flatMap { case (name, mk) =>
      val off = offenders(mk())
      graft.ops.Dedup.unpersistAll(noAqe)
      off.map(o => s"$name broadcasts an unbounded Generate subtree: $o")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("assignShards: exactly one Exchange (the per-shard window)") {
    val orders = spark.read.parquet(s"$dir/orders.parquet").select("o_orderkey")
    val p = graft.ops.Sampling.assignShards(orders, "o_orderkey", 8)
      .queryExecution.executedPlan.toString
    val n = "Exchange".r.findAllIn(p).length
    assert(n == 1, s"expected exactly 1 Exchange, found $n:\n$p")
    assert(!p.contains("SinglePartition"), s"global funnel in shard plan:\n$p")
  }

  test("mixtureSample: quota side broadcasts, no global funnel") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val w = (0 until 20).map(i => (s"src$i", 1.0 + i % 4)).toMap
    val p = graft.ops.Sampling.mixtureSample(docs, "source", "doc_id", w)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"per-domain quotas must broadcast onto the corpus:\n$p")
    // the only non-equi join allowed is the 1-row min(r) broadcast cross
    // (the TF-IDF N pattern); a CartesianProduct would mean the corpus
    // itself entered a product
    assert(!p.contains("CartesianProduct"),
      s"unexpected product in mixture plan:\n$p")
    assert(p.contains("IdentityBroadcastMode"),
      s"the mixture bound must enter as a 1-row broadcast subtree:\n$p")
  }

  test("sortedNeighborPairs: every window is bucket-partitioned — no " +
    "single-partition global sort hides in the plan") {
    import org.apache.spark.sql.functions.{col, substring}
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val p = graft.ops.Linkage.sortedNeighborPairs(c, "c_name", "c_name",
        "c_name", window = 3, minSim = 0.9,
        bucketExpr = substring(col("c_name"), 1, 15))
      .queryExecution.executedPlan.toString
    // a Window with an empty partition spec plans as Exchange
    // SinglePartition feeding Window — the anti-pattern this
    // construction exists to avoid
    assert(!p.contains("SinglePartition"),
      s"sorted-neighborhood must never single-partition:\n$p")
    assert(p.contains("Window"), s"expected window operators:\n$p")
  }

  test("kmeansAssign: the assignment pass is a zero-Exchange narrow scan") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // iters=1 isolates the assignment itself (no update round): centroids
    // are literals inside one argmin expression, so the plan must be a
    // scan + project with NO shuffle
    val p = graft.ops.Similarity.kmeansAssign(emb, "embedding", "vec_id", 4, 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"k-means assignment must not shuffle:\n$p")
  }

  test("centroid/PQ argmin is the native expression: zero ScalaUDF in " +
    "the ann_pq / dedup_semantic / ann_ivf_append scoring plans") {
    // the graft_clip_counts lesson, applied to the seventh kernel: a
    // compiled Scala UDF keeps its own loop fast but demotes the hosting
    // Project out of whole-stage codegen — the argmin must be the native
    // CentroidArgmin expression end-to-end
    for (name <- Seq("ann_pq", "dedup_semantic", "ann_ivf_append")) {
      val p = plan(name)
      assert(!p.contains("ScalaUDF"),
        s"$name scoring plan hosts a ScalaUDF:\n$p")
      assert(!p.contains("BatchEvalPython"),
        s"$name scoring plan leaves the JVM:\n$p")
    }
  }

  test("corpus BLEU: ONE data shuffle feeds every n-level (the tagged " +
    "single-scan kernel), no per-n re-read of the pair join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    import org.apache.spark.sql.functions._
    val pairs = docs.select(col("doc_id").as("id"), col("text").as("cand"))
      .filter(col("id") % 2 === 0)
      .join(docs.select((col("doc_id") - 1).as("id"),
        col("text").as("ref")), Seq("id"))
    val p = graft.ops.TextEval.bleu(pairs, "id", "cand", "ref", maxN = 4)
      .queryExecution.executedPlan.toString
    // the join reads documents twice (cand/ref sides) but the gram
    // explode+count must appear ONCE for all four n-levels: one
    // grouping exchange, one single-partition final-aggregate exchange,
    // plus the guarded spread repartition of the (narrow) pair frame
    val n = "Exchange".r.findAllIn(p).length
    assert(n <= 4, s"BLEU must not shuffle per n-level, found $n:\n$p")
    val explodes = "Generate explode".r.findAllIn(p).length
    assert(explodes == 1,
      s"expected ONE tagged-gram explode for all n-levels, " +
      s"found $explodes:\n$p")
  }

  test("fellegiSunter: every field estimates from ONE aggregation scan " +
    "(conditional sums), no per-field job") {
    import org.apache.spark.sql.functions._
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val pairs = c.select((col("c_custkey") % 2 === 0).as("is_match"),
      (col("c_acctbal") >= 0).as("f1"),
      (col("c_nationkey") % 2 === 0).as("f2"),
      (col("c_mktsegment") === "BUILDING").as("f3"))
    val p = graft.ops.Linkage.fellegiSunter(pairs, "is_match",
      Seq("f1", "f2", "f3")).queryExecution.executedPlan.toString
    val aggs = "HashAggregate".r.findAllIn(p).length
    // one partial + one final aggregate pair for ALL fields
    assert(aggs == 2, s"expected one aggregation pair, found $aggs:\n$p")
    assert(!p.contains("Join"), s"no join in the estimator:\n$p")
  }

  test("blockingQuality: RR/PC without pair enumeration — no self-join " +
    "of the base table, only block-size aggregates + id-keyed truth " +
    "joins") {
    import org.apache.spark.sql.functions._
    val c = spark.read.parquet(s"$dir/customer.parquet")
    import spark.implicits._
    val truth = Seq((1L, 2L), (3L, 4L)).toDF("ia", "ib")
    val p = graft.ops.Linkage.blockingQuality(c, "c_custkey",
        Seq("c_mktsegment"), truth, "ia", "ib")
      .queryExecution.executedPlan.toString
    // the base table must never join itself: the only joins key the
    // 2-row truth frame to the per-id block keys (+ the final 1-row
    // cross of two scalar aggregates)
    val smj = "SortMergeJoin".r.findAllIn(p).length
    assert(smj == 0, s"no sort-merge self-join allowed:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian pair space:\n$p")
  }

  test("mbrSelect: candidate pairing is an equi-join on the group key, " +
    "never a product") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(floor(col("doc_id") / 10).cast("long").as("grp"),
        col("doc_id").as("cid"), col("text"))
    val p = graft.ops.Eval.mbrSelect(docs, "grp", "cid", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairing must stay group-keyed:\n$p")
  }

  test("semanticPairs: equi-join on the cluster id, never a product") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = graft.ops.Dedup.semanticPairs(emb, "embedding", "vec_id",
        k = 4, iters = 1, minCosine = 0.3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"semantic pair join planned as a product:\n$p")
  }

  test("c4Rules: line-rule family stays a zero-Exchange codegen'd scan") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.TextMetrics.c4Rules(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"C4 rules must not shuffle:\n$p")
    assert(p.contains("*(1)"), s"C4 rules fell out of codegen:\n$p")
  }

  test("langIdModel: one broadcast join, one aggregation, no window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.TextMetrics.langIdModel(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    // the wide profile matrix is a tiny literal → broadcast left join;
    // all language scores come out of ONE map-side-combined per-doc
    // aggregation; the argmax is a column fold, never a window
    assert(!p.contains("SortMergeJoin"),
      s"profile join degenerated to a shuffle join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"expected a broadcast join against the literal profile matrix:\n$p")
    assert(!p.contains("Window"), s"argmax must be a column fold:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1,
      s"expected exactly 1 shuffle (the doc aggregation), found $shuffles:\n$p")
  }

  test("ccnetBuckets approx: sketch cut adds no per-group sort") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val exact = graft.ops.TextMetrics.ccnetBuckets(docs, "text", "doc_id",
      "lang").queryExecution.executedPlan.toString
    // exact ntile NEEDS the per-group sort — assert it is there and that
    // the window partitions by the group, not SinglePartition
    assert(exact.contains("Window"), s"exact cut lost its window:\n$exact")
    // the ntile window must partition by the group key — a funnel would
    // show windowspecdefinition with no partition columns. (The LM's
    // 1-row corpus-total aggregate legitimately uses SinglePartition, so
    // assert on the window's partitioning, not the whole plan.)
    assert(exact.contains("hashpartitioning(lang"),
      s"exact cut must partition by group, not funnel:\n$exact")
    val approx = graft.ops.TextMetrics.ccnetBuckets(docs, "text", "doc_id",
      "lang", approx = true).queryExecution.executedPlan.toString
    assert(!approx.contains("Window"),
      s"approx cut must not use a window:\n$approx")
    assert(approx.contains("approx_percentile") ||
      approx.contains("percentile_approx"),
      s"approx cut must use the percentile sketch:\n$approx")
  }

  test("chunkByBudget: one Exchange — reassembly reuses the window's key") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.TextMetrics.chunkByBudget(docs, "text", "doc_id", 64)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1,
      s"expected 1 shuffle (doc window; aggregation reuses it), got $shuffles:\n$p")
    assert(!p.contains("SinglePartition"),
      s"chunking must never funnel to one partition:\n$p")
  }

  test("topKPerGroup: partial WindowGroupLimit prunes before the shuffle") {
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
    val p = graft.ops.Profile.topKPerGroup(orders, Seq("o_orderpriority"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
      .queryExecution.executedPlan.toString
    // the rank filter must rewrite to WindowGroupLimit, and the Partial
    // instance must sit below the Exchange: map tasks ship at most k rows
    // per group, never the whole table
    assert(p.contains("WindowGroupLimit"),
      s"rank filter did not rewrite to WindowGroupLimit:\n$p")
    assert(p.contains("Partial"),
      s"no partial (pre-shuffle) group-limit prune:\n$p")
    assert(!p.contains("global=true"), s"global sort in top-k plan:\n$p")
  }

  test("clusterByZ: range partitioning on the Morton key, no global sort") {
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val p = graft.ops.Layout.clusterByZ(orders,
        Seq(("o_custkey", 0.0, 4096.0), ("o_orderkey", 0.0, 65536.0)),
        bits = 10, numFiles = 16)
      .queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning") || p.contains("RangePartitioning")
      || p.contains("REPARTITION_BY_NUM"),
      s"no range partitioning in layout plan:\n$p")
    // the sort must be within partitions (Sort ... global=false), never global
    assert(!p.contains("global=true"), s"global sort in layout plan:\n$p")
  }

  test("distinctiveTerms: WindowGroupLimit top-k, no global sort, no action") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.TextMetrics.distinctiveTerms(docs, "text", "source",
        k = 5, minCount = 5L)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"per-group top-k did not rewrite to WindowGroupLimit:\n$p")
    assert(!p.contains("global=true"), s"global sort in plan:\n$p")
  }

  test("histogram: two keyed aggregations, no window, no SinglePartition") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val p = graft.ops.Profile.histogram(li, "l_extendedprice", 20,
        Seq("l_returnflag"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"unexpected window in histogram plan:\n$p")
    assert(!p.contains("SinglePartition"),
      s"histogram funnels through one partition:\n$p")
  }

  test("homoglyphDedup: groupBy election + shuffle-hash join-back, no " +
    "window keyed on the data-scale skeleton column") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.Dedup.homoglyphDedup(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    // homoglyph spam IS the million-copy-skeleton workload: a WindowExec
    // keyed on skeleton_hash gives each skeleton to ONE sorted task; the
    // election must stay a map-side-combined aggregate + keyed join-back
    assert(!p.contains("Window"),
      s"window keyed on the skeleton column:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"join-back must be shuffle-hash (one-row-per-skeleton build side," +
        s" hot probe key streams with no sort):\n$p")
    assert(p.contains("HashAggregate"),
      s"min-id election is not a hash aggregate:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"sort-merge join-back re-sorts the hot skeleton partition:\n$p")
  }

  test("selectByBudget: deterministic-bucket prefix scan, no window " +
    "keyed on the data-scale score column") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), (col("doc_id") % 3).cast("double").as("score"),
        lit(1.0).as("cost"))
    val p = graft.ops.Sampling.selectByBudget(d, "doc_id", "score", "cost",
        1000.0)
      .queryExecution.executedPlan.toString
    // quantized scores make one score value most of the corpus: a window
    // PARTITIONED on the score (windowspecdefinition leading with _s)
    // would funnel it into one task — the scan must bucket on the
    // literal-cut-point bucket id instead, with only the carry frame
    // (a local relation, bounded by the bucket count) global
    assert(p.contains("hashpartitioning(_p"),
      s"no hash exchange on the deterministic bucket id:\n$p")
    assert(!p.contains("windowspecdefinition(_s"),
      s"window partitioned on the raw score:\n$p")
    assert(p.contains("windowspecdefinition(_p"),
      s"per-bucket cumsum window missing:\n$p")
    // the carry offsets join back as a broadcast of a bounded aggregate
    // subtree (r19: lazy, no driver collect) — the offsets branch must
    // read the tracked CACHE of the input, never a fresh scan of it
    assert(p.contains("BroadcastHashJoin"), s"offsets not broadcast:\n$p")
    // both the per-bucket cumsum branch and the offsets-aggregate branch
    // must read the tracked pin (plan printing repeats the cached child
    // per consumer, so >= 2 InMemoryTableScans = both branches pinned)
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"offsets/result branches do not both read the input pin:\n$p")
  }

  test("containmentPairs: shingle document frequency is a groupBy + " +
    "join-back, no window keyed on the shingle") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.Dedup.containmentPairs(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    // a boilerplate shingle with millions of occurrences must never
    // funnel into one sorted window task — same family as the homoglyph
    // election audit
    assert(!p.contains("Window"),
      s"window keyed on the shingle column:\n$p")
    graft.ops.Dedup.unpersistAll(spark)
  }

  test("running-total family (rocAuc / bhAdjust): no partition-less " +
    "window over a data-scale frame — DistScan buckets instead") {
    import org.apache.spark.sql.functions._
    // continuous scores: the distinct-score frame IS the data, so any
    // windowspecdefinition leading with the score/p column would be a
    // single sorted task; the scans must window only on the bucket id
    // (plus the nPart-row carry frame)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select((col("l_extendedprice") / 100000.0).as("score"),
        (col("l_orderkey") % 2 === 0).as("label"),
        col("l_orderkey").as("id"))
    val pRoc = graft.ops.Profile.rocAuc(li, "score", "label")
      .queryExecution.executedPlan.toString
    assert(!pRoc.contains("windowspecdefinition(score"),
      s"rocAuc windows on the raw score:\n$pRoc")
    val pBh = graft.ops.Profile.bhAdjust(li.select(col("id"),
        (col("score") / 10.0).as("p")), "id", "p")
      .queryExecution.executedPlan.toString
    assert(!pBh.contains("windowspecdefinition(p#") &&
      !pBh.contains("windowspecdefinition(p "),
      s"bhAdjust windows on the raw p-values:\n$pBh")
    graft.ops.Dedup.unpersistAll(spark)
  }

  test("centroidOutliers: bottom-k is WindowGroupLimit, no global sort") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = graft.ops.Similarity.centroidOutliers(emb, "vec_id",
        "embedding", "label", bottomK = 5)
      .queryExecution.executedPlan.toString
    // the centroid frame is labels x dim — AQE broadcasts it at runtime;
    // the static audit pins the bottom-k shape and the absence of any
    // global sort (the join strategy is a runtime size decision)
    assert(p.contains("WindowGroupLimit"),
      s"bottom-k did not rewrite to WindowGroupLimit:\n$p")
    assert(!p.contains("global=true"), s"global sort in plan:\n$p")
  }

  test("geo withinDistanceJoin: equi-join on the cell key, never a " +
    "cartesian/nested-loop product") {
    import org.apache.spark.sql.functions._
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"),
        (pmod(col("c_custkey") * 37, lit(1200)) / 10.0 - 60.0).as("lat"),
        (pmod(col("c_custkey") * 73, lit(3600)) / 10.0 - 180.0).as("lon"))
    val supp = spark.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey"),
        (pmod(col("s_suppkey") * 41, lit(1200)) / 10.0 - 60.0).as("lat"),
        (pmod(col("s_suppkey") * 97, lit(3600)) / 10.0 - 180.0).as("lon"))
    val p = graft.ops.Geo.withinDistanceJoin(supp, "s_suppkey", "lat",
        "lon", cust, "c_custkey", "lat", "lon", 150.0, 3.0, 60.0)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"radius join planned as a product:\n$p")
  }

  test("splitAssign and quantizeInt8: pure narrow projections, zero " +
    "Exchange") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ps = graft.ops.Sampling.splitAssign(docs.select("doc_id"), "doc_id")
      .queryExecution.executedPlan.toString
    assert(!ps.contains("Exchange"), s"splitAssign shuffles:\n$ps")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val pq = graft.ops.Similarity.quantizeInt8(emb, "embedding", "vec_id")
      .queryExecution.executedPlan.toString
    assert(!pq.contains("Exchange"), s"quantizeInt8 shuffles:\n$pq")
  }

  test("withHilbert: linear plan in bits — no exponential expression " +
    "blow-up from the per-level fold") {
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"),
        pmod(col("o_custkey"), lit(256L)).as("x"),
        pmod(col("o_orderkey"), lit(256L)).as("y"))
    val p8 = graft.ops.Layout.withHilbert(orders, col("x"), col("y"), 8)
      .queryExecution.executedPlan.toString
    val p16 = graft.ops.Layout.withHilbert(orders, col("x"), col("y"), 16)
      .queryExecution.executedPlan.toString
    // doubling bits must grow the plan ~linearly; an inlined fold would
    // square-or-worse the plan text between 8 and 16 levels
    assert(p16.length < p8.length * 4,
      s"plan grows superlinearly: ${p8.length} -> ${p16.length}")
    assert(!p8.contains("Exchange"), s"withHilbert shuffles:\n$p8")
  }

  test("rollingZ and adoption: one hash Exchange on the key, never " +
    "SinglePartition") {
    import spark.implicits._
    val ev = (0 until 100).map(i => (s"t${i % 3}", i.toLong, i * 1.0))
      .toDF("k", "ts", "x")
    val pz = graft.ops.Profile.rollingZ(ev, "k", "ts", "x")
      .queryExecution.executedPlan.toString
    assert(!pz.contains("SinglePartition"),
      s"rollingZ funnels through one partition:\n$pz")
    val ad = (0 until 100).map(i => (s"g${i % 3}", i.toLong % 7, i.toLong % 5))
      .toDF("g", "u", "day")
    val pa = graft.ops.Behavior.adoption(ad, "g", "u", "day")
      .queryExecution.executedPlan.toString
    assert(!pa.contains("SinglePartition"),
      s"adoption funnels through one partition:\n$pa")
  }

  test("acf, holt, dwellTimes, maxConcurrent: keyed windows/folds only, " +
    "never SinglePartition") {
    import spark.implicits._
    val ev = (0 until 120).map(i => (s"t${i % 3}", i.toLong, i * 1.0))
      .toDF("k", "ts", "x")
    for ((nm, df) <- Seq(
      "acf" -> graft.ops.Profile.acf(ev, "k", "ts", "x", maxLag = 5),
      "holt" -> graft.ops.Profile.holt(ev, "k", "ts", "x", 0.3, 0.2),
      "dwellTimes" -> graft.ops.Behavior.dwellTimes(
        ev.select($"k".as("u"), ($"ts" * 1000000L).as("t"), $"k".as("et")),
        "u", "t", "et"),
      "maxConcurrent" -> graft.ops.Interval.maxConcurrent(
        ev.select($"k", $"ts".as("s"), ($"ts" + 5L).as("e")), "k", "s", "e"))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("SinglePartition"),
        s"$nm funnels through one partition:\n$p")
    }
    // acf: lags scale projection width, not pass count — ONE window sort
    val pacf = graft.ops.Profile.acf(ev, "k", "ts", "x", maxLag = 7)
      .queryExecution.executedPlan.toString
    assert("Window".r.findAllIn(pacf).length <= 2,
      s"acf runs one window pass regardless of maxLag:\n$pacf")
  }

  test("collocations and soundex blocking: equi-joins and TakeOrdered, " +
    "never a product or global sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pc = graft.ops.TextMetrics.collocations(docs, "text", 2L, 10)
      .queryExecution.executedPlan.toString
    // the unigram joins must be hash equi-joins; the only allowed
    // nested-loop is the 1-row n_total subtree (the pageRank pattern)
    assert(!pc.contains("CartesianProduct"),
      s"collocations plans a product:\n$pc")
    assert("BroadcastNestedLoopJoin".r.findAllIn(pc).length <= 1,
      s"more than the 1-row total crossJoin is nested-loop:\n$pc")
    assert("BroadcastHashJoin|SortMergeJoin".r.findAllIn(pc).length >= 2,
      s"unigram joins are not hash equi-joins:\n$pc")
    assert(pc.contains("TakeOrderedAndProject"),
      s"collocations top-k is not TakeOrdered:\n$pc")
    import spark.implicits._
    val names = Seq("smith", "smyth", "mayer", "meier").map(w => (w, w))
      .toDF("wid", "w")
    val pp = graft.ops.Linkage.phoneticSelfJoin(names, "wid", "w", 0.8)
      .queryExecution.executedPlan.toString
    assert(!pp.contains("NestedLoop") && !pp.contains("CartesianProduct"),
      s"phonetic join plans a product:\n$pp")
  }

  test("reconcile, bootstrapCI, temperatureSample, kaplanMeier: " +
    "keyed-only shapes, quota/cut subtrees broadcast, no corpus window") {
    import spark.implicits._
    val a = (0 until 200).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val pr = graft.ops.Validate.reconcile(a, a, "k", Seq("k", "v"), 16)
      .queryExecution.executedPlan.toString
    assert(!pr.contains("Window") && !pr.contains("CartesianProduct"),
      s"reconcile plan shape:\n$pr")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pb = graft.ops.Profile.bootstrapCI(docs, "source", "doc_id",
      "n_chars", b = 8).queryExecution.executedPlan.toString
    assert(!pb.contains("Window") && !pb.contains("SinglePartition"),
      s"bootstrapCI must be pure keyed aggregation:\n$pb")
    // temperatureSample's rmin is a 1-row aggregate subtree — ONE
    // SinglePartition exchange is the documented pageRank-N pattern,
    // not a funnel; the ranking window itself must stay domain-keyed
    val pt = graft.ops.Sampling.temperatureSample(docs, "lang",
      "doc_id", 2.0).queryExecution.executedPlan.toString
    assert("Exchange SinglePartition".r.findAllIn(pt).length <= 1,
      s"more than the 1-row min subtree funnels:\n$pt")
    assert(pt.contains("windowspecdefinition(lang"),
      s"temperatureSample ranking window must partition by domain:\n$pt")
    val subj = (0 until 50).map(i => (s"g${i % 2}", (i % 7).toDouble,
      i % 3 == 0)).toDF("g", "t", "e")
    val pk = graft.ops.Profile.kaplanMeier(subj, "g", "t", "e")
      .queryExecution.executedPlan.toString
    assert(!pk.contains("SinglePartition"),
      s"kaplanMeier windows must stay cohort-keyed:\n$pk")
  }

  test("zoneMapReport and statsDrift: span/profile subtrees broadcast, " +
    "no window, no action") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    import org.apache.spark.sql.functions._
    val o = orders.select(
      pmod(col("o_custkey"), lit(256L)).cast("double").as("cx"),
      pmod(col("o_orderkey"), lit(256L)).cast("double").as("cy"))
    val pz = graft.ops.Layout.zoneMapReport(o,
        Seq(("cx", 0.0, 256.0), ("cy", 0.0, 256.0)), 8, 16, "cx", 0, 15)
      .queryExecution.executedPlan.toString
    assert(!pz.contains("Window"), s"zoneMapReport uses a window:\n$pz")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pd = graft.ops.Profile.statsDrift(docs, docs,
        Seq("lang", "n_chars")).queryExecution.executedPlan.toString
    assert(!pd.contains("Window") && !pd.contains("SinglePartition"),
      s"statsDrift plan shape:\n$pd")
  }

  test("AQE skew join: a planted hot key actually splits (OptimizeSkewedJoin)") {
    // q_salted_join proves the MANUAL salting kernel; this proves the AQE
    // half of the Skew scaladoc guidance: under adaptive execution a
    // sort-merge join whose shuffle lands one oversized partition is
    // re-planned with the hot partition split (SortMergeJoin(skew=true) /
    // a skewed AQEShuffleRead in the FINAL adaptive plan). Thresholds are
    // scaled down so a 4 MB local fixture exhibits what a 100 TB hot key
    // would; the mechanism under test is identical.
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, lit, lpad, when}
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // broadcast off on both the static and the AQE re-plan path: the
      // skew rule only applies to shuffle (SMJ/SHJ) joins
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // 90% of 40k left rows share key 0 (with a ~100-byte payload the hot
      // shuffle partition is ~4 MB, far over the 64 KB cut); right side is
      // 10 keys x 1 row
      val left = spark.range(40000L).select(
        when($"id" % 10 < 9, 0L).otherwise($"id" % 10).as("k"),
        concat(lit("p"), lpad($"id".cast("string"), 96, "x")).as("payload"))
      val right = (0L until 10L).map(i => (i, s"dim$i")).toDF("k", "name")
      val joined = left.join(right, "k")
      // execute THIS dataset's QueryExecution (count() would clone the
      // plan and leave this one isFinalPlan=false)
      val n = joined.collect().length
      assert(n == 40000, s"join row count: $n")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"final adaptive plan shows no skew-split join:\n$p")
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
    }
  }

  test("zipfFit: the top-N vocabulary cut is a TakeOrdered, never a " +
    "rank window over the full vocabulary") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.TextMetrics.zipfFit(docs, "text", topN = 100)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"vocabulary cut is not a bounded-heap TakeOrdered:\n$p")
  }

  test("exactIncrementalBloom: distributed-built filter probed by the " +
    "native might_contain, zero ScalaUDF in the probe stage") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = graft.ops.Dedup.exact(docs, "text", "doc_id")
      .select(org.apache.spark.sql.functions.col("content_hash"))
    val out = graft.ops.Dedup.exactIncrementalBloom(
      docs.limit(100), "text", "doc_id", corpus, expectedItems = 1000L)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"),
      s"probe is not the native bloom expression:\n$p")
    assert(!p.contains("ScalaUDF"),
      s"bloom probe demoted the filter stage to a ScalaUDF:\n$p")
  }

  test("inventory-wide ScalaUDF sweep: NO registered query plans an " +
    "interpreted Scala UDF anywhere (empty allowlist)") {
    // One blanket audit over the whole driver surface so a future kernel
    // demotion (a udf() sneaking into a hot path — the ScalaUDF codegen
    // demotion is a measured 2-4x cliff) fails CI instead of surfacing as
    // a bench-floor regression. Multimodal decode is mapPartitions by
    // construction (no ScalaUDF node), so the allowlist is EMPTY; adding
    // a name here requires a written justification like the
    // DriverStateAuditSpec contract rows.
    val allow = Set.empty[String]
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allow)
      .filter { name =>
        SparkEntry.queries(name)(spark, dir)
          .queryExecution.executedPlan.toString.contains("ScalaUDF")
      }
    assert(offenders.isEmpty,
      s"queries hosting a ScalaUDF (promote to a native kernel or " +
        s"allowlist with justification): ${offenders.mkString(", ")}")
  }

  test("silhouetteSimplified: one narrow argmin scan — no Window, no " +
    "per-point join against a centroid table, one aggregation exchange") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = graft.ops.Similarity.silhouetteSimplified(emb, "embedding",
        "label")
      .queryExecution.executedPlan.toString
    // a and b are exactly TWO kernel calls per row (own-centroid lookup
    // + one top-2 pass) — O(k·dim) plan literals, never the k-branch
    // CaseWhen fold; the only join/window-free exchange is the
    // clusters-sized final agg
    assert(!p.contains("Window"), s"silhouette plans a window:\n$p")
    assert(!p.contains("Join"), s"silhouette joins per point:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 2,
      s"more exchanges than the clusters-sized aggregation needs:\n$p")
    val kernelSites = "graft_argmin_centroid".r.findAllIn(p).length
    assert(kernelSites == 2,
      s"expected exactly 2 argmin kernel call sites (own + top2), got " +
        s"$kernelSites:\n$p")
  }

  test("rbo: bounded shortlist equi-join + weight lookup — no cartesian " +
    "product, no window in the scoring path") {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet(s"$dir/events.parquet")
    def ranked(par: Int) = graft.ops.Profile.topKPerGroup(
      ev.filter(col("event_id") % 2 === par)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n")),
      Seq("event_type"), Seq(col("n").desc, col("user_id").asc), 20)
    val p = graft.ops.Eval.rbo(ranked(0), ranked(1), Seq("event_type"),
        "user_id", "rk", k = 20, p = 0.9)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"rbo joins without equi-keys:\n$p")
  }

  test("winRateMatrix: ONE map-side-combined aggregation — no window, " +
    "no join, exactly one exchange") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang").as("ma"),
        concat(col("lang"), lit("2")).as("mb"),
        when(col("doc_id") % 3 === 0, col("lang")).as("win"))
    val p = graft.ops.Eval.winRateMatrix(d, "ma", "mb", "win")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window") && !p.contains("Join"),
      s"winRateMatrix must be one groupBy:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"expected exactly one pair-key exchange:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"aggregation is not map-side combined:\n$p")
  }

  test("krippendorffAlpha: cells/rollup aggregations + the UNHINTED " +
    "kept-units join (AQE decides) — no window, no cartesian, 1-row " +
    "crossJoins only") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        when(col("n_chars") < 400, "a").otherwise("b").as("cat"))
    val p = graft.ops.Eval.krippendorffAlpha(d, "doc_id", "cat")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"krippendorff plans a window:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"non-1-row cartesian (BroadcastNestedLoop over 1-row aggregates " +
        s"is the expected crossJoin shape):\n$p")
  }

  test("mcnemar: one aggregation over the item frame — no shuffle " +
    "beyond the single global agg exchange, no join, no window") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), (col("doc_id") % 2 === 0).as("ca"),
        (col("doc_id") % 3 === 0).as("cb"))
    val p = graft.ops.Eval.mcnemar(d, "doc_id", "ca", "cb")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window") && !p.contains("Join"),
      s"mcnemar must be one aggregation:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"more exchanges than one global agg needs:\n$p")
  }

  test("tokenFertility: narrow per-row BPE encode + ONE lang-keyed " +
    "map-side-combined aggregation — no window, no join") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.TextMetrics.tokenFertility(d, "text", "doc_id",
        "lang")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window") && !p.contains("Join"),
      s"tokenFertility must be one groupBy:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"expected exactly one lang exchange:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"aggregation is not map-side combined:\n$p")
  }

  test("encodingAudit: one narrow scan + one 1-row aggregate — no " +
    "window, no join, at most one exchange") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.ops.TextMetrics.encodingAudit(d, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window") && !p.contains("Join"),
      s"encodingAudit must be one aggregation:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"more exchanges than one global agg needs:\n$p")
  }

  test("pipeline_curation: composed plan executes the stages' own " +
    "shuffles, not a multiplicative recompute; no cartesian; pins drain") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    // the REAL recompute audit is physical, not textual: count the
    // stages Spark actually EXECUTES for one materialization. Stage
    // boundaries are EAGER checkpoints since r18 (lineage truncation),
    // so most stages run during query CONSTRUCTION — the listener
    // attaches before it. Measured 44 at this scale with cache pins /
    // ~35 with checkpoint boundaries — the stages' own shuffle budget;
    // the unpinned composition re-executes upstream chains per
    // downstream reference and lands in the hundreds. 55 = measured +
    // headroom for AQE re-splits.
    val stages = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // plan-shape existence checks on the composed final-segment plan:
      // no cartesian product anywhere; the only nested-loop joins are
      // mixtureSample's documented 1-row quota/min subtrees
      val df = SparkEntry.queries("pipeline_curation")(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"cartesian product in the curation pipeline:\n${p.take(4000)}")
      assert("BroadcastNestedLoop".r.findAllIn(p).length <= 3,
        "nested-loop joins beyond mixtureSample's 1-row quota subtree")
      assert(df.count() > 0, "pipeline must pack a non-empty corpus")
      // listener events post asynchronously (the bus is private API):
      // poll until the count stabilizes, bounded
      var prev = -1
      var waited = 0
      while (stages.get() != prev && waited < 5000) {
        prev = stages.get(); Thread.sleep(250); waited += 250
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(stages.get() <= 55,
      s"curation pipeline executed ${stages.get()} stages — the " +
        "composition is recomputing stage boundaries instead of " +
        "reading their pins")
    // lifecycle: stage boundaries are checkpoint-materialized (r18
    // optimization — lineage truncation, not cache pins), so the only
    // Ops-scope caches left are minhashCandidatePairs' internal
    // signature cache; unpersistAll must still drain cleanly
    graft.ops.CacheScope.unpersistAll(spark)
    assert(graft.ops.CacheScope.trackedCount(spark) == 0,
      "unpersistAll must drain the pipeline's operator caches")
  }
}
