package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.{Dedup, Sampling, Stage, TextMetrics}

/**
 * End-to-end training-data curation over the documents table — the
 * operators composed the way a production pipeline chains them:
 *
 *   0. per-source corpus profile (the CCNet-style "which crawl sources
 *      are garbage" report) — consulted BEFORE choosing filter thresholds,
 *      then a broadcast domain-blocklist filter on extracted URLs
 *   1. quality + repetition + Gopher shape rules + unigram-LM floor +
 *      C4 page rules; then the CCNet head/middle/tail cut (tail dropped)
 *      and model-based audits (trigram language-ID consistency, learned
 *      quality probe)
 *   2. exact dedup (content hash, keep lowest id)
 *   3. near-dedup (minhash banding pairs -> connected-components cluster
 *      election, keeping each cluster's minimum id)
 *   4. benchmark decontamination (n-gram overlap vs a held-out eval set)
 *   5. deterministic stratified sample per language
 *   6. corpus token accounting
 *   7. incremental day-2 path: dedupe a "new crawl" against the persisted
 *      band-key index of the curated corpus — no corpus re-pairing
 *   8. release prep: PII scrub, then fixed-window chunking and per-shard
 *      sequence packing of the scrubbed corpus (training-batch shapes)
 *
 * Every stage is a narrow map or a single keyed shuffle; nothing collects
 * to the driver except final counts. Run (session env:
 * [[graft.GraftSession.forMain]], e.g. SPARK_GRAFT_CPUS=8):
 *   sbt "runMain graft.examples.CurationPipelineExample [sfDir]"
 */
object CurationPipelineExample {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.forMain()

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val n0 = docs.count()

    // 0. per-source health report: one sketch-state aggregation over the
    // raw corpus; the lowest-median-quality source is what a real pipeline
    // would inspect (or drop) before tuning the stage-1 thresholds
    val report = graft.ops.Profile.sourceReport(
        docs, "source", "lang", "text", "doc_id")
      .orderBy("quality_p50", "source")
    val worst = report.select("source", "quality_p50", "n_docs")
      .first()
    println(s"[curate] worst source by median quality: " +
      s"${worst.getString(0)} (p50=${worst.getDouble(1)}, " +
      s"docs=${worst.getLong(2)})")

    // 0.5. domain blocklist: drop any document citing a blocklisted
    // domain (UT1-style). The blocklist is curated — thousands of rows,
    // never corpus-scale — so the membership check is a broadcast
    // semi-join on the extracted domains; the synthetic corpus cites no
    // URLs, so this stage is a structural no-op here and a real filter on
    // crawl data
    import spark.implicits._
    val blocklist = Seq("ads.example.net", "tracker.bad.org").toDF("domain")
    val blockedDocs = TextMetrics.extractUrls(docs, "text", "doc_id")
      .join(broadcast(blocklist), Seq("domain"), "leftsemi")
      .select("doc_id").distinct()
    val allowed = docs.join(blockedDocs, Seq("doc_id"), "left_anti")

    // 1. rule filters: minimum length, bounded repetition, Gopher shape
    // rules, and a corpus-unigram LM floor (the CCNet perplexity axis) —
    // the synthetic corpus is random words, so thresholds here exercise
    // the shape rules rather than the full English-prose `keep` verdict
    val quality = TextMetrics.quality(allowed, "text", "doc_id")
      .filter(col("n_tokens") >= 10)
    val repetition = TextMetrics.repetition(allowed, "text", "doc_id")
      .filter(col("dup_3gram_frac") <= 0.5)
    val gopher = TextMetrics.gopherQuality(allowed, "text", "doc_id")
      .filter(col("symbol_word_ratio") < 0.1 &&
        col("bullet_line_frac") < 0.9 && col("ellipsis_line_frac") < 0.3)
    val lm = TextMetrics.unigramLogProb(allowed, "text", "doc_id")
      .filter(col("avg_logp") >= -12.0)
    // C4 page rules (lorem-ipsum / code markers): the synthetic corpus is
    // unpunctuated single-line text, so the line rules are a structural
    // no-op here and a real rewrite on crawl data — the page flags still
    // apply, and the audit fractions feed threshold tuning
    val c4 = TextMetrics.c4Rules(allowed, "text", "doc_id")
      .filter(col("has_lorem") === 0 && col("has_curly") === 0)
    val ruled = allowed
      .join(quality.select("doc_id"), "doc_id")
      .join(repetition.select("doc_id"), "doc_id")
      .join(gopher.select("doc_id"), "doc_id")
      .join(lm.select("doc_id"), "doc_id")
      .join(c4.select("doc_id"), "doc_id")
    val n1 = ruled.count()

    // 1.5. CCNet perplexity partition: per-language head/middle/tail over
    // the bigram LM score; the TAIL third is dropped (the published CCNet
    // policy). On a real crawl the model trains on a trusted reference
    // corpus — here the corpus models itself
    val ccnet = TextMetrics.ccnetBuckets(ruled, "text", "doc_id", "lang")
      .filter(col("bucket") <= 2).select("doc_id")
    // stage boundaries are cut (Stage.cut) where later stages reuse
    // the frame: left lazy, every later plan re-embeds the whole chain
    // above it, and AQE's plan-update events render that text each time
    val ruledCc = Stage.cut(ruled.join(ccnet, "doc_id"))
    val n1b = ruledCc.count()

    // 1.6. model-based audits (report, not filter, on this synthetic
    // corpus): trigram language-ID disagreement with the lang metadata —
    // a real pipeline re-tags or drops mismatches — and a learned quality
    // probe trained on weak labels (lang=='en' stands in for
    // "reference-like")
    val langMismatch = TextMetrics.langIdModel(ruledCc, "text", "doc_id")
      .join(ruledCc.select("doc_id", "lang"), "doc_id")
      .filter(col("pred_lang") =!= col("lang")).count()
    val qm = graft.ops.QualityClassifier.train(
      ruledCc.withColumn("lbl", (col("lang") === "en").cast("double")),
      "text", "lbl", buckets = 1 << 14, maxIter = 10)
    val meanProb = graft.ops.QualityClassifier
      .score(qm, ruledCc, "text", "doc_id")
      .agg(avg("quality_prob")).collect()(0).getDouble(0)

    // 2. exact dedup: keep each content hash's lowest doc_id — then the
    // homoglyph pass right behind it (the r13 channel: Cyrillic/zero-
    // width spam variants are pixel-identical but hash differently, so
    // EXACT dedup alone ships them)
    val keep = Dedup.exact(ruledCc, "text", "doc_id")
      .select(col("keep_id").as("doc_id"))
    val exactDeduped0 = ruledCc.join(keep, "doc_id")
    val exactDeduped = Stage.cut(exactDeduped0.join(
      Dedup.homoglyphDedup(exactDeduped0, "text", "doc_id")
        .filter(col("keep")).select("doc_id"), "doc_id"))
    val n2 = exactDeduped.count()

    // 3. near-dedup: minhash banding candidates. Two standard election
    // policies over the candidate pairs:
    //  (a) drop-larger-id: delete id_b of every pair — simple, one
    //      anti-join, but over-deletes on chains (a-b, b-c kills b AND c);
    //  (b) connected components: keep exactly one representative (the
    //      minimum id) per TRANSITIVE duplicate cluster.
    // The pipeline ships with (b); (a) is shown for comparison.
    val pairs = Dedup.minhashCandidatePairs(exactDeduped, "text", "doc_id",
        maxBucketSize = 10000)
    val nDropLarger = exactDeduped.join(
      pairs.select(col("id_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti").count()
    // one labeling serves both the election here and the persisted day-2
    // artifact in step 7 (running keepRepresentatives would recompute it)
    val labels = Stage.cut(Dedup.connectedComponents(pairs))
    val nearDeduped = Dedup.keepRepresentativesByLabels(
      exactDeduped, labels, "doc_id")
    val n3 = nearDeduped.count()

    // 4. decontamination: drop docs sharing 8-grams with the "eval set"
    // (every 50th doc plays the benchmark here); benchmark broadcasts
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val contaminated = TextMetrics.contamination(
        nearDeduped, "text", "doc_id", bench, "text", n = 8)
      .filter(col("contamination_frac") > 0.2)
      .select("doc_id")
    val clean = nearDeduped.join(contaminated, Seq("doc_id"), "left_anti")
    val n4 = clean.count()

    // 5. reproducible stratified sample (up to 100 docs per language),
    // then the token-budget cut: best documents by the learned quality
    // probe until the budget is spent — the data-recipe knapsack that
    // turns "we can afford B tokens" into a reproducible corpus
    val sampled = Sampling.stratifiedExact(clean, "lang", "doc_id", 100)
    val n5 = sampled.count()
    val scored = graft.ops.QualityClassifier
      .score(qm, sampled, "text", "doc_id")
      .join(TextMetrics.tokenCounts(sampled, "text", "doc_id")
        .select(col("doc_id"), col("n_ws_tokens")), "doc_id")
    val budgeted = Sampling.selectByBudget(scored, "doc_id",
        "quality_prob", "n_ws_tokens", budget = 20000.0)
      .filter(col("selected")).select("doc_id")
    val sampledB = sampled.join(budgeted, "doc_id")
    val n5b = sampledB.count()

    // 6. token accounting on the final corpus
    val tokens = TextMetrics.tokenCounts(sampledB, "text", "doc_id")
      .agg(coalesce(sum("n_ws_tokens"), lit(0L))).collect()(0).getLong(0)

    // 7. persist the curated corpus's dedup index AND the FULL component
    // labeling (including dropped members mapping to their kept
    // representative — so a day-2 doc that duplicates a dropped doc still
    // lands in the right cluster), then dedupe a mock "day-2 crawl"
    // incrementally: the corpus is never re-paired, and the new pairs
    // fold into the existing labeling (prior clusters collapse in one
    // star round)
    val idxDir = graft.ops.Scratch.dir("curate_idx")
    Dedup.minhashBandKeys(sampled, "text", "doc_id")
      .write.mode("overwrite").parquet(s"$idxDir/minhash_idx")
    labels.write.mode("overwrite").parquet(s"$idxDir/components")
    val crawl = docs.limit(200).select(
      (col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val crawlPairs = Dedup.minhashCandidatePairsIncremental(
      crawl, spark.read.parquet(s"$idxDir/minhash_idx"), "text", "doc_id")
    val crawlDups = crawlPairs
      .filter(col("from_corpus")).select("id_new").distinct().count()
    val mergedComponents = Dedup.connectedComponentsIncremental(
        spark.read.parquet(s"$idxDir/components"),
        crawlPairs.select(col("id_new").as("id_a"), col("id_match").as("id_b")))
      .count()
    Dedup.unpersistAll(spark)

    // 8. release prep: scrub PII, then cut the scrubbed text into
    // training-window chunks and pack documents into token-budget bins
    // (both narrow/sharded — no global state, safe at any corpus size).
    // The scrubbed frame is persisted: chunking and packing are two
    // separate actions, and without it each would re-execute the whole
    // curation chain above (the operator caches released at step 7's end)
    val scrubbed = TextMetrics.piiScrub(sampled, "text", "doc_id")
      .select(col("doc_id"), col("text_scrubbed").as("text"))
      .persist()
    val nChunks = TextMetrics.chunk(scrubbed, "text", "doc_id",
      size = 2048, stride = 2048).count()
    // BPE-budgeted variant: context-window chunks cut by REAL token cost
    val nBpeChunks = TextMetrics.chunkByBudget(
      scrubbed, "text", "doc_id", budget = 512).count()
    val nBins = TextMetrics.packBins(
        scrubbed.withColumn("shard", col("doc_id") % 16), "text", "doc_id",
        budget = 4096, shardCol = "shard")
      .select("shard", "bin").distinct().count()
    scrubbed.unpersist(false)

    println(f"[curate] input=$n0 ruled=$n1 ccnet_kept=$n1b " +
      f"langid_mismatch=$langMismatch mean_quality_prob=$meanProb%.3f " +
      f"exact=$n2 near=$n3 budgeted=$n5b " +
      f"(drop-larger-id would keep $nDropLarger) decontam=$n4 " +
      f"sampled=$n5 tokens=$tokens crawl_dups=$crawlDups " +
      f"merged_component_ids=$mergedComponents chunks=$nChunks " +
      f"bpe_chunks=$nBpeChunks packed_bins=$nBins")
    spark.stop()
  }
}
