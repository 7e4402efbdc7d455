package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * End-to-end corpus curation — the full-stack composition a real
 * training-data pipeline runs per refresh, built ONLY from this
 * library's individually-gated stages so the integration itself is
 * oracle-checkable (the datasetCard precedent, extended from profiling
 * to the whole keep/drop/pack path):
 *
 *   C4 line+page rules  →  Gopher quality keep  →  exact dedup
 *   →  MinHash near-dup drop  →  linear quality score
 *   →  domain-mixture sample  →  token-budget bin packing
 *
 * Each stage consumes the previous stage's survivors and is
 * materialized at the boundary by a [[Stage.cut]] (the
 * persist-between-stages pipeline shape), so every stage computes
 * exactly once, AQE sizes each stage's own shuffles, and Catalyst
 * analyzes per-stage plans instead of the multiplicatively nested
 * composition. A stage's cut is released once the next stage's cut has
 * materialized; the last one lives as long as the returned frame (the
 * [[Stage]] lifecycle).
 *
 * Scale shape: the narrow stages (C4, Gopher, scoring lambdas) fuse
 * into the scans; the shuffling stages keep their own documented
 * shapes (exact = one hash groupBy, minhash = banded candidate join,
 * mixture = two-stage exact top-n, pack = one per-shard window). The
 * glue joins all key on `idCol`, so after the first id-shuffle the
 * sort-merge joins REUSE the partitioning instead of re-exchanging —
 * the composition adds id-join glue, not per-stage re-shuffles
 * (PlanAuditSpec pins the composed plan's total Exchange count).
 *
 * Near-dup rule: a document is dropped when it appears as the LARGER
 * id of any verified banding candidate pair — deterministic, one
 * anti-join, and the survivor of a duplicate pair is always the
 * smaller id (the exact-dedup election rule, kept consistent). This is
 * the pairwise form; corpora needing transitive-closure election use
 * [[Dedup.dedupCorpus]]'s connected components instead.
 *
 * Output: one row per packed surviving document — idCol, shard,
 * n_tokens, cum_tokens, bin, bin_offset (the [[TextMetrics.packBins]]
 * artifact the training loader reads).
 */
object Curate {
  def curateCorpus(docs: DataFrame, textCol: String, idCol: String,
      sourceCol: String, coeffs: DataFrame, intercept: Double,
      buckets: Int, minQuality: Double, weights: Map[String, Double],
      packBudget: Int, nShards: Int,
      maxBucketSize: Int = 100000): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1: $nShards")
    // EVERY stage boundary is materialized AND lineage-truncated
    // ([[Stage.cut]]): a stage's survivors are referenced by MULTIPLE
    // downstream subtrees (the next stage's verdict frame +
    // the glue join's left side; scoreLinear and mixtureSample each
    // read their input 2-3 times internally), so without the pin the
    // lineage re-executes the whole upstream chain per reference and
    // the composed plan blows up MULTIPLICATIVELY (measured: 755
    // Exchanges unpinned vs ~40 pinned at gate scale). Cache pins alone
    // are not enough: the ANALYZED tree still nests every upstream
    // stage 2x per boundary (cache substitution happens after
    // analysis), so seven stages hand Catalyst a ~2^7-nested tree per
    // action — measured 18.3 s vs 6.2 s for the identical stages with
    // truncated lineage at sf0.1, with the gap growing in stage count,
    // not data. Checkpointing keeps the one-materialization-per-stage
    // execution AND resets the plan at each boundary — the standard
    // persist-between-stages pipeline shape.
    // Pins checkpoint at their NATURAL partitioning: a per-pin
    // repartition was tried and measured NET-NEGATIVE at gate scale —
    // the per-stage exchanges cost more than the occasional
    // coalesced-to-one-partition consumer stage they prevent.
    // Examined twice, left alone (r18 + r19): AQE sizes the checkpoint
    // job's last exchange by BYTES, so a small stage output freezes at 1
    // partition and one consumer stage serializes (r19 profiled a single
    // 1.27 s task under an otherwise-parallel plan). BOTH repair shapes
    // measured net-negative at gate scale — repartitioning inside every
    // checkpoint job (r18) and fanning the pin output lazily when the
    // materialized partition count < parallelism, keyed on idCol (r19:
    // 6.18 -> 6.82 s; five pins x per-consumer exchange latency costs
    // more than the one serialized stage). Join-output checkpoint stats
    // are garbage-inflated here, so a stats-driven FanOut can never
    // fire either. At corpus scale stage outputs hold >= cores
    // partitions and none of this applies.
    // stage 1: C4 — keep pages passing the page rules, and carry each
    // page's REWRITTEN text (kept lines only) forward: C4 ships the
    // rewrite, not just the verdict
    val c4k = Stage.cut(TextMetrics.c4Rules(docs, textCol, idCol)
      .filter(col("keep") === 1)
      .select(col(idCol), col("clean_text").as(textCol)))
    // stage 2: Gopher quality rules on the cleaned text
    val gIds = TextMetrics.gopherQuality(c4k, textCol, idCol)
      .filter(col("keep") === 1).select(col(idCol))
    val gk = Stage.cut(c4k.join(gIds, Seq(idCol)))
    Stage.release(c4k)
    // stage 3: exact dedup — keep each content hash's smallest id
    val ek = Stage.cut(gk.join(
      Dedup.exact(gk, textCol, idCol).select(col("keep_id").as(idCol)),
      Seq(idCol)))
    Stage.release(gk)
    // stage 4: MinHash near-dup — drop the larger id of each verified
    // banding candidate pair
    val dropIds = Dedup.minhashCandidatePairs(ek, textCol, idCol,
        maxBucketSize = maxBucketSize)
      .select(col("id_b").as(idCol)).distinct()
    val mk = Stage.cut(ek.join(dropIds, Seq(idCol), "left_anti"))
    Stage.release(ek)
    // stage 5: linear quality scoring under the caller's coefficient
    // table; keep documents at or above the probability threshold
    val qIds = QualityClassifier
      .scoreLinear(mk, coeffs, intercept, buckets, textCol, idCol)
      .filter(col("quality_prob") >= minQuality).select(col(idCol))
    // source re-attached here: the gated stage outputs are id+text
    // frames, so domain membership rejoins from the input (id-keyed,
    // same partitioning as the glue joins above)
    val qk = Stage.cut(mk.join(qIds, Seq(idCol))
      .join(docs.select(col(idCol), col(sourceCol)), Seq(idCol)))
    Stage.release(mk)
    // stage 6: realize the domain mixture at max corpus usage
    val mixed = Sampling.mixtureSample(qk, sourceCol, idCol, weights)
    // stage 7: pack the survivors into token-budget bins per shard
    TextMetrics.packBins(
      mixed.withColumn("_shard", pmod(col(idCol), lit(nShards.toLong))),
      textCol, idCol, packBudget, "_shard")
  }
}
