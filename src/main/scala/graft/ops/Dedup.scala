package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

/**
 * Deduplication operators for large-scale text corpora. The hash/banding
 * operators are pure DataFrame pipelines: narrow maps plus exactly one
 * shuffle (the groupBy on the dedup key), so they scale linearly with
 * input and never materialize pairwise comparisons outside an LSH bucket.
 * The one exception by nature is [[connectedComponents]] (cluster
 * election), an ITERATIVE pipeline: O(log n) checkpointed star rounds,
 * each itself a bounded keyed groupBy + join (plan-audited). Every band
 * join is guarded by a hot-bucket cap (`maxBucketSize`): a single
 * degenerate key (empty docs, boilerplate bands) would otherwise rejoin
 * quadratically at corpus scale. Dropped buckets are logged, never silent.
 * All band pair operators — the minhash, ngram, embedding and simhash
 * self-joins, their incremental variants and `Multimodal`'s media hamming
 * pairs — share ONE join ([[bandPairs]]) and one cap ([[capBuckets]]);
 * each keeps only its own band keys and verify step.
 *
 * Caching contract: the pair-generating operators cache their intermediate
 * signature/bucket frames (several downstream subtrees — the cap guard and
 * both join sides — reuse them; without the cache each would recompute the
 * expensive hashing). Cached frames are tracked per session; release them
 * after consuming the pair results with `Dedup.unpersistAll(spark)` —
 * no global `clearCache()`, no cacheManager internals. Operator
 * construction is fully LAZY: the hot-bucket guard folds into the plan
 * and logs dropped buckets at action time via an observed metric.
 *
 * Logging envelope (the price of laziness): drop counts are observed by a
 * QueryExecutionListener on SUCCESSFUL actions in the owning session. If
 * an action fails mid-run, or results are consumed through a path that
 * bypasses the listener bus (e.g. a foreign session re-executing the
 * plan), counts for that run go unlogged; onFailure still logs that caps
 * were configured on the failed query, so the cap is never invisible
 * while debugging.
 */
object Dedup {

  private val log = LoggerFactory.getLogger(getClass)

  /** Release every frame the Dedup/Similarity operators cached in this
   * session (see the caching contract above), plus any DistScan pins
   * still alive from lazy Profile/Sampling scan statistics (their own
   * terminal readouts self-release; this drains the rest). */
  def unpersistAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    CacheScope.unpersistAll(spark)
    CacheScope.unpersistAll(spark, CacheScope.Scan)
  }

  /** Unique suffix for observed-metric names: CollectMetrics requires a
   * distinct name per node within one query plan. */
  private val capId = new java.util.concurrent.atomic.AtomicLong(0)

  /** Sessions that already carry the cap-drop logging listener (weak keys:
   * the registry must not pin a stopped session). */
  private val capListenerSessions =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  /** Register (once per session) a QueryExecutionListener that logs the
   * hot-bucket drop metrics observed by capBuckets — the lazy replacement
   * for an eager construction-time count job. */
  private def ensureCapListener(spark: org.apache.spark.sql.SparkSession): Unit =
    synchronized {
      if (capListenerSessions.add(spark)) {
        spark.listenerManager.register(
          new org.apache.spark.sql.util.QueryExecutionListener {
            override def onSuccess(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                durationNs: Long): Unit = {
              qe.observedMetrics.foreach { case (name, row) =>
                if (name.startsWith("graft_cap/")) {
                  val hot = row.getAs[Long]("hot_buckets")
                  if (hot > 0) {
                    val worst = row.getAs[org.apache.spark.sql.Row]("worst_bucket")
                    log.warn(s"$name: dropped $hot hot LSH buckets " +
                      s"(${row.getAs[Long]("dropped_rows")} member rows) over " +
                      s"maxBucketSize=${row.getAs[Long]("max_bucket_size")}; " +
                      s"worst bucket band=${worst.get(0)} key=${worst.get(1)} " +
                      s"n=${worst.get(2)}")
                  }
                }
              }
            }
            override def onFailure(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                exception: Exception): Unit = {
              // The observed metric is usually absent on a failed action,
              // so drop COUNTS are unknowable here — but a debugging
              // session still deserves the breadcrumb that caps were in
              // force on the failed query (see the caching-contract note
              // on the logging envelope).
              val capNodes = qe.analyzed.collect {
                case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
                    if c.name.startsWith("graft_cap/") => c.name
              }
              if (capNodes.nonEmpty)
                log.warn(s"query failed with hot-bucket caps configured " +
                  s"(${capNodes.mkString(", ")}); drop counts for this run " +
                  s"are unknown — rerun to observe them")
            }
          })
      }
    }

  /** 3-word shingles of a pre-split `tok` array — the array form of the
   * shingle construction shared by the minhash and ngram paths (both
   * DuckDB oracles replay exactly this string). Its hot-path twin is
   * [[shingleRowsExploded]]; those two are the only definitions — edit
   * them together or the oracles silently desynchronize. */
  private[ops] val shingleExpr: String =
    "transform(sequence(1, size(tok) - 2), i -> " +
      "concat(tok[i - 1], ' ', tok[i], ' ', tok[i + 1]))"

  /** [[shingleExpr]]'s exploded-position twin — the lambda-free hot-path
   * form (HOF lambdas force interpreted evaluation of their stage): one
   * row per shingle slot, the shingle string in `s`. The string
   * construction is character-identical to [[shingleExpr]]'s lambda
   * body; these two are the ONLY definitions of the oracle-replayed
   * shingle string — edit them together or the minhash/ngram oracles
   * silently desynchronize. `tokenized` must carry (`idName`, tok). */
  private def shingleRowsExploded(
      tokenized: DataFrame, idName: String): DataFrame =
    tokenized
      .select(col(idName), col("tok"),
        explode(expr("sequence(1, size(tok) - 2)")).as("i"))
      .select(col(idName),
        expr("concat(tok[i - 1], ' ', tok[i], ' ', tok[i + 1])").as("s"))

  /** Exact dedup on content hash. One shuffle on the 128-bit digest; at
   * 100 TB use it with spark.sql.shuffle.partitions sized to the corpus. */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /**
   * Incremental EXACT dedup with a Bloom-filter prefilter — the
   * crawl-batch-vs-corpus membership check without shuffling the corpus:
   * a Bloom filter over the corpus content hashes is built in one
   * distributed pass (mergeable per-partition bit arrays), broadcast, and
   * applied as a prefilter on the new batch; only Bloom POSITIVES (true
   * duplicates + the fpp fraction of false positives) enter the exact
   * verification semi-join, so the join's left side is a sliver of the
   * batch and the corpus side prunes to matching hash partitions. The
   * verification join makes the RESULT exact regardless of fpp — the
   * filter only sizes the work, never the answer (false negatives are
   * impossible by construction, so skipped rows are provably new).
   *
   * Scale envelope (bits vs corpus cardinality, EbwSizing style): the
   * filter costs ~1.2 bytes/key at fpp=0.01 — 120 MB at 1e8 keys, ~1.2 GB
   * at 1e9. The BUILD is fully distributed (per-partition partial
   * sketches merged inside a regular aggregate — Spark's own
   * `BloomFilterAggregate`, surfaced as `graft_bloom_agg`) inside a lazy
   * scalar subquery — the shape Spark's own runtime-filter rule
   * (`InjectRuntimeFilter`) builds. Building the operator launches no
   * job; the first action runs the subquery, and only the one merged
   * binary transits the driver, into each probe stage's task binary.
   * Beyond ~1e9 corpus keys that binary is the bound: range-partition the
   * hash space and run one filter per range. The probe is Spark's native
   * `BloomFilterMightContain` (`graft_might_contain` over
   * `xxhash64(hash)`), which codegens — the whole post-hash filter stage
   * stays inside whole-stage codegen (plan-audited: no ScalaUDF). An
   * empty corpus aggregates to a null filter, the probe is then null,
   * and every row is filtered out: no key can be a member.
   *
   * `corpusHashes` is one `content_hash` column (e.g. `exact()` output).
   * Output: every new-batch row with its hash and an exact `in_corpus`
   * 0/1 flag (oracle-gated: equals the plain semi-join answer). Duplicate
   * `idCol` values in `newBatch` are safe: the flag joins back on
   * (idCol, content_hash) against a DISTINCT verification set, so each
   * input row yields exactly one output row — though rows sharing an id
   * AND text are indistinguishable in the output (as in the input).
   *
   * Null text hashes to a null content_hash; `xxhash64` folds a null to
   * its seed constant, so the probe may pass such rows (a false
   * positive), but the exact verification semi-join can never match a
   * null key — `in_corpus` is 0, same as before. fpp only sizes the
   * verification work, never the answer.
   */
  def exactIncrementalBloom(
      newBatch: DataFrame, textCol: String, idCol: String,
      corpusHashes: DataFrame, expectedItems: Long,
      fpp: Double = 0.01,
      maxFilterBytes: Long = DefaultMaxFilterBytes): DataFrame = {
    require(expectedItems >= 1, s"expectedItems must be >= 1")
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    val spark = newBatch.sparkSession
    graft.functions.GraftFunctions.register(spark)
    // n = ceil(-items * ln(fpp) / ln(2)^2), the standard optimal sizing
    val numBits = math.max(64L, math.ceil(
      -expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // EbwSizing-style fail-fast on the documented envelope (object doc:
    // the merged binary transits the driver and rides in every probe
    // stage's task binary): sized error BEFORE the build job, with the
    // scale-out path in the message, instead of an OOM mid-merge
    val filterBytes8 = numBits / 8 + 1
    require(filterBytes8 <= maxFilterBytes,
      f"exactIncrementalBloom would build a ${filterBytes8 / (1 << 20)}%d MB" +
        f" filter ($expectedItems%d items at fpp=$fpp%.4f -> $numBits%d " +
        "bits), above the maxFilterBytes ceiling " +
        f"${maxFilterBytes / (1 << 20)}%d MB (the measured single-filter " +
        "envelope: the binary transits the driver once and rides in each " +
        "probe stage's task binary — BASELINE.md 'bloom envelope'). " +
        "Range-partition the hash space and run one filter per range " +
        "(e.g. split on pmod(xxhash64(content_hash), R) for R ranges of " +
        "<= 1e9 keys each), or raise maxFilterBytes deliberately if the " +
        "cluster's task-binary budget allows")
    // BloomFilterAggregate silently clamps (items, bits) to the
    // runtime-filter session caps; raise them monotonically so the
    // requested envelope is honored rather than degraded.
    raiseLongConf(spark,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", expectedItems)
    raiseLongConf(spark,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", numBits)
    val hashed = newBatch.select(col(idCol), md5(col(textCol)).as("content_hash"))
    val filter = corpusHashes
      .select(call_function("graft_bloom_agg",
        xxhash64(col("content_hash")), lit(expectedItems), lit(numBits))
        .as("bf"))
      .scalar()
    val prefilter = call_function("graft_might_contain",
      filter, xxhash64(col("content_hash")))
    // distinct on (id, hash): the flag join below then matches each input
    // row at most once, so duplicate ids cannot multiply output rows
    val verified = hashed
      .filter(prefilter)
      .join(corpusHashes.select("content_hash"), Seq("content_hash"), "leftsemi")
      .select(col(idCol), col("content_hash")).distinct()
      .withColumn("in_corpus", lit(1L))
    hashed.join(verified, Seq(idCol, "content_hash"), "left")
      .select(col(idCol), col("content_hash"),
        coalesce(col("in_corpus"), lit(0L)).as("in_corpus"))
  }

  /** Default [[exactIncrementalBloom]] filter-size ceiling: ~1.2 GB, the
   * optimal-sizing cost of ~1e9 keys at fpp=0.01 — the envelope the
   * object doc commits to and BASELINE.md's 'bloom envelope' entry
   * measures (build + probe wall at 120 MB / 1e8-key sizing, linear in
   * bits). Past it the filter binary is the bottleneck (driver transit + a
   * copy in every probe stage's task binary), so the honest path is
   * range-partitioning the hash space, not a bigger filter. */
  val DefaultMaxFilterBytes: Long = 1_200_000_000L

  /** Raise a long-valued session conf to at least `atLeast` (never
   * lowers — concurrent operators may have asked for more). */
  private def raiseLongConf(spark: org.apache.spark.sql.SparkSession,
      key: String, atLeast: Long): Unit = {
    val cur = spark.conf.getOption(key).map(_.toLong)
    if (cur.forall(_ < atLeast)) spark.conf.set(key, atLeast.toString)
  }

  /** Canonical URL key: lowercase, strip scheme / leading `www.` /
   * fragment / query string / trailing slashes. Anchored regexes in the
   * Java∩RE2 subset; each pattern can match at most once, so Spark's
   * replace-all and an oracle's replace-first agree by construction. */
  def canonicalUrl(u: Column): Column = {
    val steps = Seq("^https?://" -> "", "^www\\." -> "",
      "#.*$" -> "", "\\?.*$" -> "", "/+$" -> "")
    steps.foldLeft(lower(u)) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }
  }

  /**
   * URL-level dedup (the crawl-frontier rule CommonCrawl-style pipelines
   * apply before any content hash is computed): pages are duplicates when
   * their CANONICAL URLs collide — scheme, `www.`, fragments, trailing
   * slashes, and the ENTIRE query string are treated as
   * non-distinguishing. Whole-query stripping is the aggressive frontier
   * rule; on sites where query params select real content
   * (`?topic=42`), pre-strip only the known tracking params and skip
   * [[canonicalUrl]]'s query step instead. Same shape as [[exact]]: one
   * shuffle on the canonical key, min-id election, no window over hot
   * keys.
   *
   * Rows with NO usable key — null URL, or one that canonicalizes to the
   * empty string (a bare `https://`) — pass through as SINGLETONS, each
   * its own survivor: a missing URL says nothing about content identity,
   * so grouping all such rows under one key would elect one survivor
   * among unrelated documents. (The singleton branch is a narrow filter
   * on the same scan, not a second pass.)
   */
  def urlDedup(docs: DataFrame, urlCol: String, idCol: String): DataFrame = {
    val keyed = docs.select(canonicalUrl(col(urlCol)).as("url_key"), col(idCol))
    val noKey = col("url_key").isNull || col("url_key") === ""
    keyed.filter(!noKey)
      .groupBy("url_key")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .unionAll(keyed.filter(noKey)
        .select(col("url_key"), col(idCol).as("keep_id"),
          lit(1L).as("n_copies")))
  }

  /**
   * Homoglyph-aware exact dedup (Unicode TR#39 skeleton family): keep
   * the globally-first occurrence of each CONFUSABLE SKELETON
   * ([[TextMetrics.confusableSkeleton]] — Cyrillic/Greek lookalikes fold
   * to Latin, fullwidth forms normalize, zero-width joiners vanish,
   * then lowercase). The spam channel this closes walks straight
   * through exact AND shingle dedup: one swapped Cyrillic о changes
   * every hash while the rendered text is pixel-identical. One
   * skeleton-keyed shuffle; the skeleton is two codegen'd built-ins
   * (translate + lower), so the whole pass is engine-portable and the
   * oracle replays it verbatim.
   *
   * Election is the [[exact]] shape — groupBy min-id (map-side combined,
   * so a MILLION-copy spam skeleton costs one combiner row per input
   * partition) with a skeleton-keyed join back for the per-row `keep`
   * flag — never a window over the skeleton: WindowExec funnels each
   * skeleton into ONE sorted task, and homoglyph spam is precisely the
   * workload with million-copy skeletons. The join is hinted
   * shuffle-hash with the one-row-per-skeleton winner table as the build
   * side, so the hot key streams through the probe with no sort and no
   * per-partition buffering.
   * Output: idCol, skeleton_hash (md5), keep (true = first occurrence,
   * ties to the lowest id — the paragraph-dedup rule).
   */
  def homoglyphDedup(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    // cached (session-tracked, released by unpersistAll): the skeleton
    // projection is the expensive part of the pass (full-table translate
    // + lower + md5) and feeds BOTH the election aggregate and the probe
    // side of the join-back — uncached it would skeletonize the corpus
    // twice per action (measured 3.7x the windowed floor; cached, the
    // narrow (id, hash) frame costs one scan like the window did)
    val keyed = CacheScope.track(docs.select(col(idCol),
      md5(TextMetrics.confusableSkeleton(col(textCol))).as("skeleton_hash")))
    val winners = keyed.groupBy("skeleton_hash")
      .agg(min(col(idCol)).as("_keep_id"))
    keyed.join(winners.hint("shuffle_hash"), Seq("skeleton_hash"))
      .select(col(idCol), col("skeleton_hash"),
        (col(idCol) === col("_keep_id")).as("keep"))
  }

  /**
   * INCREMENTAL homoglyph dedup — the crawl-batch path of
   * [[homoglyphDedup]]: a new batch checks its confusable SKELETONS
   * against a persisted skeleton-hash index (the `skeleton_hash` column
   * of a prior [[homoglyphDedup]] output, written once), through the
   * same Bloom-prefilter + exact verify as [[exactIncrementalBloom]] —
   * so homoglyph-spam variants of EXISTING corpus documents surface at
   * O(new) join work, never O(corpus). Output: idCol, skeleton_hash,
   * in_corpus (1 = the skeleton already exists in the corpus).
   */
  def homoglyphIncrementalBloom(
      newBatch: DataFrame, textCol: String, idCol: String,
      corpusSkeletonHashes: DataFrame, expectedItems: Long,
      fpp: Double = 0.01): DataFrame =
    exactIncrementalBloom(
      newBatch.select(col(idCol),
        TextMetrics.confusableSkeleton(col(textCol)).as("_skeleton")),
      "_skeleton", idCol,
      corpusSkeletonHashes
        .select(col("skeleton_hash").as("content_hash")),
      expectedItems, fpp)
      .withColumnRenamed("content_hash", "skeleton_hash")

  /**
   * STREAMING homoglyph dedup — [[homoglyphDedup]]'s semantics on an
   * unbounded stream: the TR#39 confusable skeleton is a STATELESS
   * per-row column (translate + lower + md5), so it composes directly
   * with watermark-bounded `dropDuplicatesWithinWatermark` keyed on the
   * skeleton hash; state is bounded by the watermark horizon, the only
   * safe shape for an unbounded stream. The survivor is the first
   * occurrence to ARRIVE within the horizon (the streaming-dedup rule —
   * first-processed, not min-id: a stream has no global id order). The
   * same call works on a BATCH frame, where it degrades to exact
   * first-arrival dedup per skeleton.
   * Output: the input columns + skeleton_hash; duplicate rows within
   * the horizon are dropped, not flagged (append-mode streams cannot
   * retract a `keep` column).
   */
  def homoglyphStreaming(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String): DataFrame =
    docs
      .withColumn("skeleton_hash",
        md5(TextMetrics.confusableSkeleton(col(textCol))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("skeleton_hash")

  /**
   * Cross-document repeated-SPAN detection — the exact-substring dedup
   * family (Lee et al. 2021, "Deduplicating Training Data Makes Language
   * Models Better"): a span is `n` consecutive tokens; every span whose
   * hash occurs in >= 2 DISTINCT documents is flagged with its global
   * document/occurrence counts, so a downstream pass can cut or mask the
   * shared boilerplate (license headers, navigation chrome, templated
   * paragraphs) instead of dropping whole near-unique documents.
   *
   * With `stride = 1` (default) detection is complete for any alignment —
   * the reference suffix-array semantics, at O(tokens) span rows. Larger
   * strides sample positions (linearly cheaper, detects stride-aligned
   * copies only) — the knob for a first cheap pass at 100 TB.
   *
   * Scale shape: one narrow explode, one groupBy on the span hash
   * (map-side combined), and one key-partitioned join back to positions —
   * the dup table is NOT hint-broadcast (at corpus scale the duplicated-
   * span set is itself huge; AQE may broadcast if it measures small).
   */
  def crossDocSpans(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 10, stride: Int = 1): DataFrame = {
    require(n >= 1, s"span length must be >= 1, got $n")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    // cached (session-tracked, released by unpersistAll like the banding
    // operators): the tokenize+explode+md5 scan feeds BOTH the dup
    // aggregate and the probe side of the join — uncached it would run
    // the full-corpus hashing twice per action
    // exploded position + plain slice/md5, NOT inline(transform(...)):
    // the HOF lambda forced interpreted evaluation of the whole hashing
    // stage (r18); identical (pos, span_hash) rows by construction.
    // FanOut: the per-span md5 is the expensive pre-shuffle map stage.
    val spans = CacheScope.track(FanOut(docs)
      .select(col(idCol), split(col(textCol), " ", -1).as("tok"))
      .filter(size(col("tok")) >= n)
      .select(col(idCol), col("tok"),
        explode(expr(s"sequence(1, size(tok) - ${n - 1}, $stride)"))
          .as("_i"))
      .select(col(idCol), col("_i").cast("bigint").as("pos"),
        expr(s"md5(array_join(slice(tok, _i, $n), ' '))").as("span_hash")))
    val dups = spans.groupBy("span_hash")
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
    spans.join(dups, "span_hash")
      .select(col(idCol), col("pos"), col("span_hash"),
        col("n_docs"), col("n_occ"))
  }

  /**
   * The removal stage for [[crossDocSpans]]: tokens covered by ANY
   * flagged span are cut and the remaining tokens rejoined — shared
   * boilerplate disappears from every document carrying it while the
   * unique text survives (the Lee et al. cut, per-document). Documents
   * with no flagged span pass through byte-identical.
   *
   * Scale shape: the span list aggregates per document (one groupBy on
   * the already-flagged positions — a tiny fraction of the corpus), the
   * join back to documents is key-partitioned, and the cut itself is
   * per-row array lambdas (no second explode). Output column
   * `n_tokens_removed` sizes the cut for pipeline accounting.
   *
   * The cut is LINEAR per document: flagged starts sort once, one
   * `aggregate` fold merges them into disjoint covered intervals
   * (O(C log C) for C flagged starts), and a second fold emits the
   * uncovered token SLICES between intervals (O(T) total slice work for
   * T tokens) — never a per-position membership probe against the
   * covered set, which would be O(T·C) and degrade exactly on the dense
   * boilerplate-heavy documents this operator exists to clean.
   */
  def maskRepeatedSpans(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 10, stride: Int = 1): DataFrame = {
    val starts = crossDocSpans(docs, textCol, idCol, n, stride)
      .groupBy(col(idCol))
      .agg(collect_list(col("pos")).as("starts"))
    docs
      .join(starts, Seq(idCol), "left")
      .select(col(idCol), split(col(textCol), " ", -1).as("tok"),
        coalesce(col("starts"),
          expr("cast(array() as array<bigint>)")).as("starts"))
      // sorted starts → disjoint merged [s,e] intervals (1-based,
      // inclusive); overlap-or-adjacent runs collapse to one interval
      .withColumn("ivs", expr(
        s"""aggregate(array_sort(starts),
           |  named_struct(
           |    'ivs', cast(array() as array<struct<s:bigint,e:bigint>>),
           |    'cs', cast(-1 as bigint), 'ce', cast(-1 as bigint)),
           |  (st, p) -> if(st.cs < 0,
           |      named_struct('ivs', st.ivs, 'cs', p, 'ce', p + ${n - 1}),
           |    if(p <= st.ce + 1,
           |      named_struct('ivs', st.ivs, 'cs', st.cs,
           |        'ce', greatest(st.ce, p + ${n - 1})),
           |      named_struct('ivs', concat(st.ivs,
           |          array(named_struct('s', st.cs, 'e', st.ce))),
           |        'cs', p, 'ce', p + ${n - 1}))),
           |  st -> if(st.cs < 0, st.ivs,
           |    concat(st.ivs, array(named_struct('s', st.cs, 'e', st.ce)))))"""
          .stripMargin))
      .select(col(idCol),
        // walk the gaps: slice the tokens before each interval, then the
        // tail after the last one — each token copied at most once
        expr("""array_join(aggregate(ivs,
          |  named_struct('nxt', cast(1 as bigint),
          |    'acc', cast(array() as array<string>)),
          |  (st, iv) -> named_struct('nxt', iv.e + 1,
          |    'acc', concat(st.acc,
          |      slice(tok, cast(st.nxt as int), cast(iv.s - st.nxt as int)))),
          |  st -> concat(st.acc,
          |    slice(tok, cast(st.nxt as int),
          |      cast(size(tok) - st.nxt + 1 as int)))), ' ')""".stripMargin)
          .as("text_masked"),
        expr("aggregate(ivs, cast(0 as bigint), (a, iv) -> a + iv.e - iv.s + 1)")
          .as("n_tokens_removed"))
  }

  /**
   * Hot-bucket guard for band joins: drop (band, key) buckets with more
   * than `maxBucketSize` members from candidate generation (a bucket of m
   * rows contributes m(m-1)/2 pairs — one hot key is the difference
   * between linear and quadratic). Fully LAZY: the count aggregation joins
   * into the plan and the no-silent-caps rule is honored by an observed
   * metric on the count frame, logged at action time by the session's
   * QueryExecutionListener — constructing a pipeline never triggers a
   * Spark job. Callers pass Int.MaxValue to disable (no extra pass then).
   *
   * `hugeKeySpace`: set by callers whose (band, key) domain is
   * data-scale (the multi-block simhash path: hashed composite keys —
   * up to bands × distinct-fingerprint keys, vs the ≤ 2^bandBits
   * per-band domain of the classic banding). The static planner
   * estimates the count aggregate from its phantom Generate child and
   * picks a broadcast build that collects millions of key rows to the
   * driver (measured: OOM at d=2, 640k docs, 8g driver); the hint pins
   * the join-back to a shuffled hash join. Classic callers keep the
   * tiny-broadcast plan — their count frame is config-bounded.
   */
  private def capBuckets(
      keyed: DataFrame, maxBucketSize: Int, opName: String,
      hugeKeySpace: Boolean = false): DataFrame = {
    if (maxBucketSize == Int.MaxValue) return keyed
    ensureCapListener(keyed.sparkSession)
    val counts = keyed.groupBy("band", "key").agg(count(lit(1)).as("bucket_n"))
      .observe(s"graft_cap/$opName/${capId.incrementAndGet()}",
        sum(when(col("bucket_n") > maxBucketSize, 1L).otherwise(0L)).as("hot_buckets"),
        sum(when(col("bucket_n") > maxBucketSize, col("bucket_n")).otherwise(0L))
          .as("dropped_rows"),
        max(lit(maxBucketSize.toLong)).as("max_bucket_size"),
        // the dominant degenerate key, so the log stays actionable
        // without an eager top-20 query
        max_by(struct(col("band"), col("key"), col("bucket_n")), col("bucket_n"))
          .as("worst_bucket"))
    val keep = counts.filter(col("bucket_n") <= maxBucketSize)
      .select("band", "key")
    keyed.join(
      if (hugeKeySpace) keep.hint("shuffle_hash") else keep,
      Seq("band", "key"))
  }

  /**
   * The LSH pair rule of every banded near-dup operator (the minhash,
   * ngram, embedding and simhash pairs, their incremental variants and
   * Multimodal's hamming pairs): band the rows (`bandsOf`, identity when
   * `rows` already carries band and key), cap hot buckets
   * ([[capBuckets]]), equi-join on (band, key) and keep each pair in
   * canonical order. `rows` carries `id` plus the `payload` columns p that
   * the caller's verify step reads; callers verify and `distinct` (a close
   * pair can collide in several bands) themselves.
   *
   * Self-join (`corpus = None`): (id_a, id_b, p_a…, p_b…), id_a < id_b.
   * Incremental (`corpus = Some(index)`, ids disjoint across the sides):
   * the new `rows` and the index rows are banded and capped TOGETHER, so
   * the cap sees the combined bucket the full self-join would, then joined
   * new-vs-(corpus + new): (id_new, id_match, p_a…, p_b…, from_corpus),
   * each new-vs-new pair once (id_new < id_match).
   *
   * `pinWidth` repartitions the capped rows on (band, key) at the session
   * shuffle parallelism: an exchange AQE cannot coalesce, which both join
   * sides reuse ([[simhashCandidatePairs]] has the measurement).
   */
  private[ops] def bandPairs(
      rows: DataFrame, payload: Seq[String], maxBucketSize: Int, opName: String,
      corpus: Option[DataFrame] = None,
      bandsOf: DataFrame => DataFrame = identity,
      hugeKeySpace: Boolean = false, pinWidth: Boolean = false): DataFrame = {
    val tagged = corpus.fold(rows)(index =>
      rows.withColumn("_new", lit(true)).unionByName(
        index.select(rows.columns.map(col): _*).withColumn("_new", lit(false))))
    val capped = capBuckets(bandsOf(tagged), maxBucketSize, opName, hugeKeySpace)
    val kept =
      if (!pinWidth) capped
      else capped.repartition(
        capped.sparkSession.sessionState.conf.numShufflePartitions,
        col("band"), col("key"))
    def side(from: DataFrame, id: String, sfx: String, extra: Column*) =
      from.select(Seq(col("band"), col("key"), col("id").as(id)) ++
        payload.map(p => col(p).as(p + sfx)) ++ extra: _*)
    val payloadOut = payload.map(p => col(p + "_a")) ++ payload.map(p => col(p + "_b"))
    corpus match {
      case None =>
        side(kept, "id_a", "_a").join(side(kept, "id_b", "_b"), Seq("band", "key"))
          .filter(col("id_a") < col("id_b"))
          .select(Seq(col("id_a"), col("id_b")) ++ payloadOut: _*)
      case Some(_) =>
        side(kept.filter(col("_new")), "id_new", "_a")
          .join(side(kept, "id_match", "_b", col("_new").as("_match_is_new")),
            Seq("band", "key"))
          .filter(!col("_match_is_new") || col("id_new") < col("id_match"))
          .select(Seq(col("id_new"), col("id_match")) ++ payloadOut :+
            (!col("_match_is_new")).as("from_corpus"): _*)
    }
  }

  /** `rows` plus one (band, key) row per element of `bands`, an array of
   * (band, key) structs such as [[pigeonholeBands]]: the `bandsOf` step
   * of [[bandPairs]] for keys computed from a payload column. */
  private[ops] def withBands(rows: DataFrame, bands: Column): DataFrame = {
    val keep = rows.columns.toSeq.map(col)
    rows.select(keep :+ explode(bands).as("bk"): _*)
      .select(keep ++ Seq(col("bk.band").as("band"), col("bk.key").as("key")): _*)
  }

  /**
   * MinHash signatures over 3-word shingles. Hash family j is
   * md5(j || '|' || shingle); the per-document signature is the
   * lexicographic min per family (portable across engines — the DuckDB
   * oracle reproduces it verbatim). Documents with fewer than 3 tokens
   * have no shingles and are dropped, as in common MinHash pipelines.
   */
  def minhashSignatures(
      docs: DataFrame, textCol: String, idCol: String, numHashes: Int = 8): DataFrame = {
    // No FanOut HERE: signature-only consumers that merely count rows
    // let the optimizer PRUNE the 8-md5-per-shingle aggregates, and a
    // repartition below the agg would put an unprunable exchange under
    // that fast path. Pair/band-key callers (where the hashes are
    // always computed) FanOut the docs before calling.
    val tok = docs
      .select(col(idCol), split(col(textCol), " ", -1).as("tok"))
      .filter(size(col("tok")) >= 3)
    // exploded position + plain concat, NOT explode(transform(...)):
    // HOF lambdas measured a ~1.5 s fixed per-action cost (r18);
    // identical shingle rows by construction
    val shingled = shingleRowsExploded(tok, idCol)
    val aggs = (0 until numHashes).map(j =>
      min(md5(concat(lit(s"$j|"), col("s")))).as(s"h$j"))
    val sig = shingled.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    sig.select(col(idCol),
      concat_ws("|", (0 until numHashes).map(j => col(s"h$j")): _*).as("minhash_sig"))
  }

  /** Explode a parts-split signature frame into one (id, band, key) row
   * per band — the shared banding stage of the self-join and incremental
   * pair generators. */
  private def bandKeysOf(
      sig: DataFrame, idCol: String, numHashes: Int, bandSize: Int): DataFrame = {
    val bands = numHashes / bandSize
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until bandSize).map(i => col("parts").getItem(b * bandSize + i)): _*)
          .as("key"))
    }
    sig.select(col(idCol).as("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** MinHash band keys (id, band, key) — the PERSISTABLE dedup index.
   * Compute once over the corpus, write to parquet, and hand the reloaded
   * frame to `minhashCandidatePairsIncremental` for each new batch: the
   * corpus is never re-shingled and never re-paired against itself. */
  def minhashBandKeys(
      docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 8, bandSize: Int = 2): DataFrame =
    // FanOut: the 8-md5-per-shingle signature map is the expensive
    // stage and runs at scan parallelism — single-file local inputs
    // would hash on one core (r18 measured: a 2-task 3 s stage); no-op
    // at corpus scale. Applied here (not in minhashSignatures) so the
    // signature-only fast path stays prunable.
    bandKeysOf(
      minhashSignatures(FanOut(docs), textCol, idCol, numHashes)
        .withColumn("parts", split(col("minhash_sig"), "\\|")),
      idCol, numHashes, bandSize)

  /** LSH banding over minhash signatures: band key -> candidate pairs.
   * Self-join happens per-bucket only (the scale path for near-dup),
   * hot buckets capped. */
  def minhashCandidatePairs(
      docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 8, bandSize: Int = 2,
      maxBucketSize: Int = 100000): DataFrame = {
    // signatures cached (tracked; release via unpersistAll): the bucket
    // guard and both pair-join sides reuse one computation of the
    // 8-md5-per-shingle aggregation
    val sig = CacheScope.track(
      minhashSignatures(FanOut(docs), textCol, idCol, numHashes)
        .withColumn("parts", split(col("minhash_sig"), "\\|")))
    bandPairs(bandKeysOf(sig, idCol, numHashes, bandSize), Nil, maxBucketSize,
      "minhashCandidatePairs").distinct()
  }

  /**
   * INCREMENTAL near-dup candidates: pair a batch of NEW documents against
   * an existing corpus's persisted band-key index (`minhashBandKeys`
   * output, typically read back from parquet) plus the new batch against
   * itself — the corpus is never re-paired with itself, so deduplicating a
   * daily crawl against a 100 TB corpus costs O(new · bands) join work,
   * not O(corpus²). Ids must be disjoint across the two sides (the usual
   * document-store invariant). The hot-bucket cap applies to the COMBINED
   * (corpus + new) bucket, matching what the full self-join would see.
   *
   * Output: (id_new, id_match, from_corpus) — one row per candidate, with
   * new-vs-new pairs emitted once (id_new < id_match).
   */
  def minhashCandidatePairsIncremental(
      newDocs: DataFrame, corpusBandKeys: DataFrame,
      textCol: String, idCol: String,
      numHashes: Int = 8, bandSize: Int = 2,
      maxBucketSize: Int = 100000): DataFrame = {
    val newKeyed = CacheScope.track(
      minhashBandKeys(newDocs, textCol, idCol, numHashes, bandSize))
    bandPairs(newKeyed, Nil, maxBucketSize, "minhashCandidatePairsIncremental",
      corpus = Some(corpusBandKeys)).distinct()
  }

  /** Distinct 3-word shingle sets per document: (sid, sh) — the second
   * half of the persistable ngram dedup index (with `ngramBandKeys`). */
  def ngramShingles(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    // FanOut: shingle construction + the md5 hash families downstream
    // run at scan parallelism (see minhashSignatures)
    FanOut(docs)
      .select(col(idCol).as("sid"), split(col(textCol), " ", -1).as("tok"))
      .filter(size(col("tok")) >= 3)
      .select(col("sid"), array_distinct(expr(shingleExpr)).as("sh"))

  /** Band keys from a (sid, sh) shingle frame — ONE definition shared by
   * the self-join and incremental ngram paths. Hash families come
   * 4-per-md5 (8-hex-char slices of the digest): engine-portable like a
   * per-family md5 but 4x fewer digest computations — the signature
   * aggregation is the expensive stage. */
  private def ngramBandKeysOf(
      shingles: DataFrame, numHashes: Int, bandSize: Int): DataFrame =
    bandKeysFromExploded(
      shingles.select(col("sid"), explode(col("sh")).as("s")),
      numHashes, bandSize)

  /** [[ngramBandKeysOf]] over an already-exploded (sid, s) shingle
   * frame — the shared signature/banding core. */
  private def bandKeysFromExploded(
      exploded: DataFrame, numHashes: Int, bandSize: Int): DataFrame = {
    val seeds = (0 to (numHashes - 1) / 4).map(si =>
      md5(concat(lit(s"$si|"), col("s"))))
    val aggs = (0 until numHashes).map(j =>
      min(substring(seeds(j / 4), (j % 4) * 8 + 1, 8)).as(s"h$j"))
    val sig = exploded.groupBy("sid").agg(aggs.head, aggs.tail: _*)
    val bands = numHashes / bandSize
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until bandSize).map(i =>
          col(s"h${b * bandSize + i}")): _*).as("key"))
    }
    sig.select(col("sid").as("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Ngram band keys (id, band, key) from raw documents — persist next to
   * `ngramShingles` output as the corpus's incremental ngram index. */
  def ngramBandKeys(
      docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 8, bandSize: Int = 2): DataFrame =
    ngramBandKeysOf(ngramShingles(docs, textCol, idCol), numHashes, bandSize)

  /** Exact-Jaccard verify of candidate pairs via EXPLODED INTERSECTION:
   * |A∩B| is a join of exploded shingles on (doc, shingle) plus a count —
   * candidate pairs never carry either document's full shingle array
   * through a shuffle, so per-pair shuffle bytes stay flat on
   * long-document corpora. |A∪B| = |A| + |B| - |A∩B| from doc-level
   * sizes. Left join keeps empty-intersection candidates at minJaccard=0.
   * `aCol`/`bCol` name the pair columns of `cand`. */
  private def jaccardVerify(
      cand: DataFrame, shingles: DataFrame, aCol: String, bCol: String,
      minJaccard: Double): DataFrame =
    jaccardVerifyExploded(cand,
      shingles.select(col("sid"), explode(col("sh")).as("s")),
      shingles.select(col("sid"), size(col("sh")).as("nsh")),
      aCol, bCol, minJaccard)

  /** [[jaccardVerify]] over an already-exploded (sid, s) shingle frame
   * plus a (sid, nsh) DISTINCT-size frame. The exploded frame may carry
   * duplicate (sid, s) rows — the intersection counts distinct shingles,
   * so the result equals the distinct-set form — but callers SHOULD pass
   * a per-(sid, s) distinct frame when one is free (see
   * [[ngramJaccardPairs]]): a document with m copies of a shingle
   * contributes m_a·m_b intermediate rows per (pair, shingle) before the
   * countDistinct collapses them — quadratic on exactly the boilerplate-
   * heavy near-dup-rich corpora this operator targets. (A candidate-id
   * semi-join + distinct slice built HERE was measured at 3.7 → 5.3 s on
   * the gate: the extra exchanges cost more than deriving the distinct
   * frame upstream where the size aggregation already pays one.) */
  private def jaccardVerifyExploded(
      cand: DataFrame, exploded: DataFrame, sizes: DataFrame,
      aCol: String, bCol: String, minJaccard: Double): DataFrame = {
    val interCounts = cand
      .join(exploded.select(col("sid").as(aCol), col("s")), aCol)
      .join(exploded.select(col("sid").as(bCol), col("s")), Seq(bCol, "s"))
      .groupBy(aCol, bCol).agg(countDistinct(col("s")).as("inter"))
    cand
      .join(interCounts, Seq(aCol, bCol), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .join(sizes.select(col("sid").as(aCol), col("nsh").as("nsh_a")), aCol)
      .join(sizes.select(col("sid").as(bCol), col("nsh").as("nsh_b")), bCol)
      .withColumn("jaccard",
        col("inter") * lit(1.0) / (col("nsh_a") + col("nsh_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Exploded DISTINCT shingles (sid, s) — the lambda-free internal form
   * of [[ngramShingles]]: one exploded position row per shingle slot +
   * plain concat + distinct, no transform()/array_distinct() lambdas
   * (HOF lambdas force interpreted evaluation of their whole stage —
   * r18 measured ~0.4 s per evaluation site at gate scale). The
   * distinct is one exchange of the shingle set — the same bytes the
   * verify join and signature aggregation shuffle anyway. */
  private def ngramShinglesExploded(
      docs: DataFrame, textCol: String, idCol: String): DataFrame =
    // NOT deduplicated: a separate distinct() exchange measured net
    // negative; every consumer is duplicate-insensitive instead (min
    // signatures by definition, sizes/intersections via countDistinct)
    shingleRowsExploded(
      FanOut(docs)
        .select(col(idCol).as("sid"), split(col(textCol), " ", -1).as("tok"))
        .filter(size(col("tok")) >= 3),
      "sid")

  /** n-gram Jaccard similarity for LSH candidate pairs: exact similarity
   * computed ONLY inside buckets (never all-pairs). The shingle frame is
   * built once and cached (candidate generation and exact Jaccard reuse
   * it); band hashes are md5-based so the DuckDB oracle replays the whole
   * pipeline — signatures, banding, candidates, exact Jaccard — verbatim. */
  def ngramJaccardPairs(
      docs: DataFrame, textCol: String, idCol: String,
      minJaccard: Double = 0.5, numHashes: Int = 8, bandSize: Int = 2,
      maxBucketSize: Int = 100000): DataFrame = {
    val exploded = CacheScope.track(
      ngramShinglesExploded(docs, textCol, idCol))
    // per-(sid, s) DISTINCT shingles, pinned: the size aggregation pays
    // this exchange anyway (countDistinct two-phases through a (sid, s)
    // grouping), so deriving the distinct frame once and computing sizes
    // from it adds no exchange — and the verify join's sides now carry
    // one row per (doc, shingle), bounding the intersection join at
    // LINEAR in the shingle count where duplicate-tolerant sides went
    // m_a·m_b-quadratic on boilerplate-heavy documents (ADVICE r18). The
    // raw duplicate-tolerant frame still feeds the min-signature path,
    // where a distinct measured net-negative.
    val dedup = CacheScope.track(exploded.dropDuplicates("sid", "s"))
    val sizes = dedup.groupBy("sid").agg(count(lit(1)).as("nsh"))
    // cached (tracked): the signature aggregation inside feeds the bucket
    // guard and both pair-join sides
    val keyed = CacheScope.track(
      bandKeysFromExploded(exploded, numHashes, bandSize))
    val cand = bandPairs(keyed, Nil, maxBucketSize, "ngramJaccardPairs").distinct()
    jaccardVerifyExploded(cand, dedup, sizes, "id_a", "id_b", minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * INCREMENTAL ngram Jaccard: pair a NEW batch against the corpus's
   * persisted ngram index — `ngramBandKeys` + `ngramShingles` outputs,
   * both written once and reloaded per batch — plus the new batch against
   * itself. Candidates come from the combined-bucket band join (same cap
   * semantics as the self-join variant); the exact-Jaccard verify joins
   * exploded shingles of the UNION (corpus shingles reloaded, new
   * shingles computed once), so the corpus is never re-shingled and never
   * re-paired with itself. Ids must be disjoint across sides.
   *
   * Output: (id_new, id_match, jaccard, from_corpus).
   */
  def ngramJaccardPairsIncremental(
      newDocs: DataFrame, corpusBandKeys: DataFrame, corpusShingles: DataFrame,
      textCol: String, idCol: String,
      minJaccard: Double = 0.5, numHashes: Int = 8, bandSize: Int = 2,
      maxBucketSize: Int = 100000): DataFrame = {
    val newShingles = CacheScope.track(ngramShingles(newDocs, textCol, idCol))
    val newKeyed = CacheScope.track(
      ngramBandKeysOf(newShingles, numHashes, bandSize))
    val cand = bandPairs(newKeyed, Nil, maxBucketSize, "ngramJaccardPairsIncremental",
      corpus = Some(corpusBandKeys)).distinct()
    val allShingles = newShingles
      .unionByName(corpusShingles.select(col("sid"), col("sh")))
    jaccardVerify(cand, allShingles, "id_new", "id_match", minJaccard)
      .select("id_new", "id_match", "jaccard", "from_corpus")
  }

  /**
   * SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023):
   * cluster the embedding space with deterministic k-means
   * (Similarity.kmeansAssign), then compare pairs ONLY within a cluster
   * and keep those with cosine >= minCosine. Where the LSH family
   * ([[embeddingCosinePairs]]) targets near-copies (cosine ~0.95+),
   * SemDeDup prunes SEMANTIC redundancy at much lower thresholds — the
   * k-means cells make the O(n²) pair space tractable the same way LSH
   * buckets do, but aligned to the data's own cluster structure.
   *
   * Scale shape: assignment is a zero-shuffle literal-argmin scan; the
   * within-cluster self-join is an EQUI-join on the cluster id under an
   * explicit repartition (AQE would coalesce the small input and
   * serialize the cosine kernel — the Linkage lesson), and the kernel
   * evaluates ONCE per pair through the generator keep-rule. Clusters
   * larger than `maxClusterSize` are DROPPED with the same observe-and-
   * warn cap the banding paths use (a degenerate clustering — bad k,
   * collapsed embeddings — must not silently go quadratic); the logged
   * cluster ids are the candidates to re-cluster with larger k or feed
   * through the banded LSH path. Output composes with
   * connectedComponents + electRepresentativesByLabels for the
   * keep/drop step.
   *
   * `k = 0` (the default) derives the cell count from the corpus:
   * k = ⌈√n⌉ clamped to [16, 4096] ([[autoSemanticK]]). Total cost is
   * Θ(n·k) assignment + Θ(n²/k) within-cell pairing, minimized at
   * k ∝ √n — the measured ≤0.85 scaling slope (SURVEY §6) holds only
   * on that schedule, so a caller who never reads the tuning note gets
   * the right exponent by default; a FIXED k reads ~2.0 at scale. The
   * derivation is ONE count() of the non-null-vector corpus —
   * loop-control driver state like the k-means centroids themselves
   * (kmeansAssign collects k seed rows either way); pass explicit k to
   * stay fully lazy or to pin a cell width.
   */
  def semanticPairs(
      emb: DataFrame, vecCol: String, idCol: String,
      k: Int = 0, iters: Int = 2, minCosine: Double = 0.8,
      maxClusterSize: Int = 100000): DataFrame = {
    require(k >= 0, s"k must be >= 0 (0 = auto ~ sqrt(n)): $k")
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val nPart = emb.sparkSession.sessionState.conf.numShufflePartitions
    val kUse =
      if (k > 0) k
      else autoSemanticK(emb.where(col(vecCol).isNotNull).count())
    val assigned0 = Similarity.kmeansAssign(emb, vecCol, idCol, kUse, iters)
      .select(col("cluster"), col(idCol), col(vecCol).cast("array<double>").as("_v"))
    // reuse the banded paths' hot-bucket cap (band is a dummy constant:
    // the cap key is just the cluster id)
    val assigned =
      if (maxClusterSize == Int.MaxValue) assigned0
      else capBuckets(
        assigned0.withColumn("band", lit(0)).withColumn("key", col("cluster")),
        maxClusterSize, "semanticPairs").drop("band", "key")
    val a = assigned
      .select(col("cluster"), col(idCol).as("id_a"), col("_v").as("_va"))
      .repartition(nPart, col("cluster"))
    val b = assigned
      .select(col("cluster").as("_cb"), col(idCol).as("id_b"), col("_v").as("_vb"))
      .repartition(nPart, col("_cb"))
    val cos = Similarity.cosineNative(col("_va"), col("_vb"))
    a.join(b, col("cluster") === col("_cb") && col("id_a") < col("id_b"))
      .select(col("cluster"), col("id_a"), col("id_b"),
        explode(when(cos >= minCosine, array(round(cos, 5)))
          .otherwise(array().cast("array<double>"))).as("cosine"))
  }

  /** [[semanticPairs]]'s auto cell count: ⌈√n⌉ clamped to [16, 4096] —
   * the Θ(n·k + n²/k) cost minimizer (k ∝ √n), floored so tiny corpora
   * still get real cells and capped where the literal-argmin assignment
   * expression (k unrolled array elements) would outgrow codegen. The
   * cap binds above n ≈ 16.7M vectors per job — past that, cluster with
   * [[Similarity.kmeansCentroids]] + `assignToCentroids` (the persisted
   * cell index) and feed assignments in per cell instead. */
  private[ops] def autoSemanticK(n: Long): Int =
    math.min(4096L,
      math.max(16L, math.ceil(math.sqrt(math.max(0L, n).toDouble)).toLong))
      .toInt

  /**
   * Embedding-cosine near-duplicate pairs via multi-band random-hyperplane
   * LSH (OR-amplification): `bands` independent bucket keys of
   * `bitsPerBand` sign bits each; a pair is a candidate when it collides in
   * ANY band. Comparisons happen only within (band, bucket) — with enough
   * bits per band, buckets stay small at corpus scale (2^bitsPerBand
   * buckets per band) while multiple bands keep recall high; hot buckets
   * are additionally capped. The planes are deterministic
   * (Similarity.hyperplane), so the DuckDB oracle replays the exact
   * bucketing from the same literal planes.
   */
  def embeddingCosinePairs(
      emb: DataFrame, vecCol: String, idCol: String,
      minCosine: Double = 0.95, bands: Int = 4, bitsPerBand: Int = 16,
      maxBucketSize: Int = 100000, seed: Long = 42L,
      dim: Option[Int] = None): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    // Pass `dim` to keep construction fully lazy (the hyperplane literals
    // are driver-generated, so the vector dimension must be known up
    // front); without it, ONE head(1) probe job reads the first non-null
    // vector's size — the only operator-construction job left in Dedup.
    val dimResolved = dim.getOrElse {
      val dimRow = emb.select(size(col(vecCol)).as("_d"))
        .filter(col("_d").isNotNull && col("_d") > 0).head(1)
      if (dimRow.isEmpty) {
        // empty corpus: empty pair frame with the output schema
        import emb.sparkSession.implicits._
        return Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "cosine")
          .select(col("id_a").cast(emb.schema(idCol).dataType),
            col("id_b").cast(emb.schema(idCol).dataType), col("cosine"))
          .toDF("id_a", "id_b", "cosine")
      }
      dimRow(0).getInt(0)
    }
    // cache the bucketed frame (tracked): the bands*bitsPerBand hyperplane
    // dot products (and their codegen) run once, not once per join side
    // and once more for the bucket-count guard. ONE banding definition
    // shared with the incremental variant (embeddingBandKeys).
    val keyed = CacheScope.track(
      embeddingBandKeys(emb, vecCol, idCol, dimResolved, bands, bitsPerBand, seed))
    bandPairs(keyed, Seq("v"), maxBucketSize, "embeddingCosinePairs")
      // native codegen kernel; sums in index order like the SQL oracle
      .withColumn("cosine", Similarity.cosineNative(col("v_a"), col("v_b")))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
      .distinct()
  }

  /** The persistable embedding near-dup index: the hyperplanes are
   * DETERMINISTIC from (seed, dim), so the index is just the bucketed
   * frame (id, v, band, key) — write it to parquet (partitioning by band
   * helps) and feed new batches to `embeddingCosinePairsIncremental`
   * with the SAME seed/bands/bitsPerBand/dim. */
  def embeddingBandKeys(
      emb: DataFrame, vecCol: String, idCol: String,
      dim: Int, bands: Int = 4, bitsPerBand: Int = 16,
      seed: Long = 42L): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val v = col(vecCol).cast("array<double>")
    val base = emb.select(col(idCol).as("id"), v.as("v"))
    val bandCols = (0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        Similarity.lshBucket(col("v"), dim, bitsPerBand, seed,
          planeOffset = bnd * bitsPerBand).as("key"))
    }
    base.select(col("id"), col("v"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("v"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /**
   * INCREMENTAL embedding-cosine near-dup: bucket a NEW batch of vectors
   * with the SAME deterministic hyperplanes as the persisted index
   * (`embeddingBandKeys` output) and pair new-vs-(corpus + new) within
   * combined-capped buckets, verifying with the exact native cosine.
   * Seed/bands/bitsPerBand/dim MUST match the index's build parameters —
   * the planes regenerate from them. Ids must be disjoint across sides.
   * Output: (id_new, id_match, cosine, from_corpus).
   */
  def embeddingCosinePairsIncremental(
      newEmb: DataFrame, corpusBandKeys: DataFrame,
      vecCol: String, idCol: String, dim: Int,
      minCosine: Double = 0.95, bands: Int = 4, bitsPerBand: Int = 16,
      maxBucketSize: Int = 100000, seed: Long = 42L): DataFrame = {
    val newKeyed = CacheScope.track(
      embeddingBandKeys(newEmb, vecCol, idCol, dim, bands, bitsPerBand, seed))
    bandPairs(newKeyed, Seq("v"), maxBucketSize, "embeddingCosinePairsIncremental",
        corpus = Some(corpusBandKeys))
      .withColumn("cosine", Similarity.cosineNative(col("v_a"), col("v_b")))
      .filter(col("cosine") >= minCosine)
      .select("id_new", "id_match", "cosine", "from_corpus")
      .distinct()
  }

  /**
   * PARAGRAPH-level exact dedup (the Dolma/CCNet rule family): split each
   * document on `sep`, keep only the globally-FIRST occurrence of every
   * distinct paragraph (ordered by (doc id, position)), and reassemble the
   * surviving paragraphs in document order. Documents whose paragraphs are
   * all removed disappear from the output (fully-duplicated docs).
   *
   * Plan shape: explode → one map-side-combinable groupBy on the paragraph
   * hash electing the canonical (doc, pos) — no window over the hash, so a
   * boilerplate paragraph repeated a billion times is ONE aggregation key,
   * not a hot sorted partition — then a join back and one groupBy(doc) to
   * reassemble. The election is `min(struct(did, pos))` (lexicographic
   * struct ordering), so it is exact for ANY id range — negative ids,
   * ids beyond 2^53, documents with millions of paragraphs — with no
   * packed-long domain restriction.
   */
  def paragraphDedup(
      docs: DataFrame, textCol: String, idCol: String,
      sep: String = "\n\n"): DataFrame = {
    val paras = docs
      .select(col(idCol).as("did"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep), -1))
          .as(Seq("pos", "para")))
      .filter(length(trim(col("para"))) > 0)
    val inst = paras.select(col("did"), col("pos"), col("para"),
      md5(col("para")).as("h"))
    val winners = inst.groupBy("h")
      .agg(min(struct(col("did"), col("pos"))).as("keep"))
    inst.join(winners, "h")
      .filter(col("did") === col("keep.did") && col("pos") === col("keep.pos"))
      .groupBy(col("did").as(idCol))
      .agg(
        count(lit(1)).as("n_paragraphs_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("para")))),
            x => x.getField("para")),
          sep).as("text_dedup"))
  }

  /** SimHash near-dup candidate pairs with exact verification: split the
   * 64-bit fingerprint into maxHamming+1 bands — by pigeonhole, any pair
   * within hamming distance maxHamming agrees exactly on at least one
   * band — join per band (hot buckets capped), then verify with
   * bit_count(xor). No all-pairs comparison ever happens.
   *
   * `blocksPerKey` (d) is the SELECTIVITY knob for large corpora (the
   * multi-block pigeonhole of Manku, Jain & Das Sarma 2007 §3, the
   * Google simhash-dedup construction): split the fingerprint into
   * maxHamming + d blocks and key on every d-block combination —
   * ≤ maxHamming differing bits touch ≤ maxHamming blocks, so some d
   * untouched blocks form an agreeing composite key (recall stays
   * EXACT; the verified output is the identical pair set for any d,
   * spec-pinned). At d = 1 (the small-corpus route, and the d=1
   * gate/oracle replay) keys carry only ~64/(h+1) bits — at h = 8 that is a 7-bit key
   * space, so candidate growth is ~n²/2⁷ and the 64x→128x wall slope
   * read 1.45 (measured r17); d = 2 widens keys to ~2·64/(h+2) bits
   * (~10× fewer random collisions at h = 8 for 5× the key rows),
   * d = 3 ~13×. Composite keys are xxhash64 of the block values
   * (hash collisions only ADD candidates, never lose one — exact
   * verification filters them); under `portable = true` they are the
   * md5 of the '|'-joined combination indexes + block values instead,
   * which the DuckDB oracle replays verbatim (the portable-fingerprint
   * precedent extended to the key scheme — the d ≥ 2 SCALE path sits
   * under the same full-SQL gate as d = 1, `dedup_simhash_pairs_mb`).
   *
   * `blocksPerKey = 0` (the DEFAULT) is AUTO: d is routed from the
   * corpus size ([[simhashAutoBlocks]] — one count on the already-cached
   * fingerprint frame, which the plan reuses). Small corpora keep the
   * d = 1 plan (no extra key rows — the gate-scale spec pins plan
   * identity); past the measured d=1→d=2 crossover (~240k docs at
   * h = 8, the 48× gate-scale multiple where 7-bit keys' ~n²/2⁷
   * random collisions overtake the 5× key-row cost — PairScaling r17,
   * slope_last 1.53 vs 0.73 at 128×) the routed plan switches to
   * d = 2, so a caller touching no knobs gets the scale path the way
   * EbwSizing auto-routes Gram modes. Callers with measured knowledge
   * can still pin d explicitly. */
  def simhashCandidatePairs(
      docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 8, maxBucketSize: Int = 100000,
      portable: Boolean = false, blocksPerKey: Int = 0): DataFrame = {
    require(blocksPerKey >= 0 && maxHamming + math.max(blocksPerKey, 1) <= 64,
      s"blocksPerKey must be >= 0 (0 = auto) with maxHamming + blocksPerKey <= 64: " +
        s"$blocksPerKey (maxHamming $maxHamming)")
    // fingerprints cached (tracked, doc-count-sized): the bucket guard and
    // both pair-join sides reuse one computation of the 64-bit-sum agg
    val fp = CacheScope.track(simhash(FanOut(docs), textCol, idCol, portable))
    // auto-route d from the corpus size: the count materializes the
    // cached fingerprint frame the plan reuses anyway, so the sizing
    // action costs one cache scan, not a second fingerprint pass
    val d =
      if (blocksPerKey > 0) blocksPerKey
      else simhashAutoBlocks(fp.count(), maxHamming)
    val keyCols =
      if (d == 1) pigeonholeBands(col("simhash"), maxHamming + 1)
      else simhashMultiBlockCols(maxHamming, d, portable)
    val keyed = fp
      .select(col(idCol).as("id"), col("simhash"),
        explode(keyCols).as("bk"))
      .select(col("id"), col("simhash"), col("bk.band").as("band"), col("bk.key").as("key"))
    // pin the band join's width (the linkPrediction pattern, r19) on the
    // CLASSIC d=1 route: its per-bucket pair generation + bit_count
    // verify is the CPU stage, and AQE's byte-sized coalescing shrinks
    // the small-bytes (band, key) exchange to ONE partition (profiled: a
    // single 1.34 s task under an otherwise-parallel plan; pinned 1.58x).
    // REPARTITION_BY_NUM is not coalescable, both self-join sides reuse
    // the one exchange, and N is the session shuffle parallelism — the
    // cluster-sized setting. The d>1 multi-block route is NOT pinned:
    // its C(h+d, d)-keys-per-doc frame makes the extra exchange cost
    // more than the tiny per-bucket joins it would parallelize
    // (measured 0.94x on dedup_simhash_pairs_mb).
    bandPairs(keyed, Seq("simhash"), maxBucketSize, "simhashCandidatePairs",
        hugeKeySpace = d > 1, pinWidth = d == 1)
      .select(col("id_a"), col("id_b"),
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * INCREMENTAL simhash near-dup: pair NEW documents against a persisted
   * fingerprint table (`simhash` output written to parquet — the index is
   * just (id, simhash)) plus the new batch against itself, with the same
   * pigeonhole-band + exact-hamming verify as the self-join variant and
   * the cap applied to combined buckets. Ids must be disjoint across
   * sides. Output: (id_new, id_match, hamming, from_corpus).
   */
  def simhashCandidatePairsIncremental(
      newDocs: DataFrame, corpusFingerprints: DataFrame,
      textCol: String, idCol: String,
      maxHamming: Int = 8, maxBucketSize: Int = 100000,
      portable: Boolean = false): DataFrame = {
    def fingerprints(fp: DataFrame) = fp.select(col(idCol).as("id"), col("simhash"))
    val newFp = CacheScope.track(simhash(FanOut(newDocs), textCol, idCol, portable))
    // banded after the union; width pin: see simhashCandidatePairs
    bandPairs(fingerprints(newFp), Seq("simhash"), maxBucketSize,
        "simhashCandidatePairsIncremental", corpus = Some(fingerprints(corpusFingerprints)),
        bandsOf = withBands(_, pigeonholeBands(col("simhash"), maxHamming + 1)),
        pinWidth = true)
      .select(col("id_new"), col("id_match"),
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))).cast("long").as("hamming"),
        col("from_corpus"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Block `i` of the `nBlocks` pigeonhole blocks of a 64-bit hash
   * column: bits [i·w, i·w + w) with w = 64 / nBlocks, the last block
   * taking the remainder. ONE definition for every pigeonhole key in
   * graft.ops — the simhash bands ([[pigeonholeBands]]), the multi-block
   * keys ([[simhashMultiBlockCols]]) and `Multimodal`'s media hamming
   * bands — so the self-join, incremental and media paths cannot drift
   * apart (the shingleExpr hazard). A 64-bit block is the whole hash:
   * its mask is -1, as `(1L << 64) - 1` would be 0. */
  private[ops] def pigeonholeBlock(h: Column, i: Int, nBlocks: Int): Column = {
    val bandBits = 64 / nBlocks
    val lo = i * bandBits
    val width = if (i == nBlocks - 1) 64 - lo else bandBits
    val mask = if (width >= 64) -1L else (1L << width) - 1L
    shiftright(h, lo).bitwiseAND(lit(mask))
  }

  /** The `nBands` pigeonhole bands of hash column `h` as an array of
   * (band, key) structs ([[withBands]] explodes it): any two hashes within
   * Hamming distance < nBands agree on at least one whole band. */
  private[ops] def pigeonholeBands(h: Column, nBands: Int): Column =
    array((0 until nBands).map(i =>
      struct(lit(i).as("band"), pigeonholeBlock(h, i, nBands).as("key"))): _*)

  /** The measured d=1→d=2 crossover for [[simhashCandidatePairs]]'s
   * auto route (`blocksPerKey = 0`): PairScaling r17 put the d = 1
   * candidate explosion's overtake near a 48× gate-scale corpus
   * multiple ≈ 240k docs at maxHamming = 8 (7-bit band keys → ~n²/2⁷
   * random candidates; d = 2's ~10× wider keys cost 5× the key rows,
   * so the switch pays only past the collision knee). Below the knee
   * the d = 1 plan is strictly cheaper (no extra key rows); above it
   * d = 2 measured 6.4× faster at 128× with slope 0.73 vs 1.53.
   * Pure function of (corpus size, maxHamming) so the route is
   * plan-deterministic and spec-pinned; the threshold scales with the
   * key width 2^(64/(h+1)) relative to its h = 8 calibration point —
   * a larger h narrows the keys and the knee arrives earlier. */
  def simhashAutoBlocks(nDocs: Long, maxHamming: Int = 8): Int = {
    val calibrated = 240000.0 // measured at h = 8 (64/9 ≈ 7.1-bit keys)
    val calibratedBits = 64.0 / 9
    val keyBits = 64.0 / (maxHamming + 1)
    val threshold =
      calibrated * math.pow(2.0, (keyBits - calibratedBits) / 2.0)
    if (nDocs < threshold || maxHamming + 2 > 64) 1 else 2
  }

  /** Multi-block composite keys (Manku et al. 2007 §3): maxHamming + d
   * blocks, one (band, key) per d-block combination — key = xxhash64 of
   * the combination id + the d block values (or, `portable = true`, the
   * md5 hex of the '|'-joined combination indexes + decimal block
   * values — replayable in DuckDB SQL, the oracle-gate mode). Any pair
   * within maxHamming agrees on some d untouched blocks (pigeonhole),
   * so recall is exact; key collisions only ADD candidates under either
   * hash — exact verification filters them. Key width grows ~d-fold,
   * so random band collisions shrink geometrically. C(h+d, d) key rows
   * per doc — plan-time literals. */
  private def simhashMultiBlockCols(maxHamming: Int,
      d: Int, portable: Boolean = false): org.apache.spark.sql.Column = {
    val nBlocks = maxHamming + d
    def block(i: Int): Column = pigeonholeBlock(col("simhash"), i, nBlocks)
    val combos = (0 until nBlocks).combinations(d).toSeq
    array(combos.zipWithIndex.map { case (combo, bi) =>
      val key =
        if (portable)
          md5(concat_ws("|",
            combo.map(i => lit(i.toString)) ++
              combo.map(i => block(i).cast("string")): _*))
        else xxhash64((lit(bi) +: combo.map(block)): _*)
      struct(lit(bi).as("band"), key.as("key"))
    }: _*)
  }

  /** SimHash: 64-bit fingerprint from token hashes; near-dups share most
   * bits. The default token hash is xxhash64 (fastest); `portable = true`
   * derives the 64 bits from the md5 hex digest nibble-by-nibble instead,
   * which the DuckDB oracle reproduces exactly (DuckDB has no xxhash64).
   * Bit b of a token = bit (b mod 4) of nibble (b div 4) of the digest. */
  def simhash(
      docs: DataFrame, textCol: String, idCol: String,
      portable: Boolean = false): DataFrame = {
    // No FanOut here (the minhashSignatures prunability argument):
    // pair-path callers fan the docs out before calling
    val tokens = docs.select(col(idCol),
      explode(split(col(textCol), " ", -1)).as("t"))
      .filter(length(col("t")) > 0)
    val (hashed, bitSet) =
      if (portable) {
        val withHex = tokens.withColumn("hx", md5(col("t")))
        // one int column per hex nibble, shared by its 4 bit extractions
        val withNibbles = (0 until 16).foldLeft(withHex)((d, j) =>
          d.withColumn(s"v$j", conv(substring(col("hx"), j + 1, 1), 16, 10).cast("int")))
        (withNibbles,
          (b: Int) => shiftright(col(s"v${b / 4}"), b % 4).bitwiseAND(lit(1)) === 1)
      } else {
        val withH = tokens.withColumn("h", xxhash64(col("t")))
        (withH, (b: Int) => shiftright(col("h"), b).bitwiseAND(lit(1L)) === lit(1L))
      }
    // per bit b: sum(+1 if bit set else -1); fingerprint bit = sign
    val bitCols = (0 until 64).map { b =>
      sum(when(bitSet(b), 1).otherwise(-1)).as(s"b$b")
    }
    val agg = hashed.groupBy(col(idCol)).agg(bitCols.head, bitCols.tail: _*)
    val fp = (0 until 64).map(b =>
      when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    agg.select(col(idCol), fp.as("simhash"))
  }

  /** Large-star round over edges oriented (u, v) with u > v: every node u
   * links its LARGER neighbors to the minimum of its neighborhood (incl.
   * u); keeps the larger -> smaller orientation. `private[graft]` so the
   * plan audit can pin the per-round shuffle count. */
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = nbrs.groupBy("u")
      .agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    nbrs.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star round: every node u links its smaller neighbors (and
   * itself) to the minimum of its smaller neighborhood. */
  private[graft] def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min(col("v")).as("m"))
    val relinked = e.join(mins, "u")
      .where(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    relinked.union(mins.select(col("u"), col("m").as("v"))).distinct()
  }

  /**
   * Connected components over a candidate-pair frame: every id that appears
   * in `pairs` is labeled with the MINIMUM id of its component. This is the
   * cluster-election step downstream of the pair generators — the
   * alternative to the per-pair "drop the larger id" policy, which
   * over-deletes on chains (a-b, b-c drops both b and c even though b and c
   * may never have been compared; component election keeps exactly one
   * representative per transitive cluster).
   *
   * Algorithm: alternating large-star / small-star (Kiveris et al.,
   * "Connected Components in MapReduce and Beyond", SoCC'14) expressed as
   * DataFrame joins — no GraphX, no driver-side graph. Each half-round is
   * one groupBy + one join on the node id; the edge set converges to
   * per-component stars in O(log n) rounds (driver loop with a
   * count+checksum fixed-point test, the only driver-side state). Works
   * for any orderable id type; ids are compared with Spark ordering.
   *
   * At 100 TB scale: every iteration shuffles the CURRENT edge set only
   * (which the star steps shrink toward one edge per node). Each round is
   * CUT ([[Stage.cut]]), not merely persisted: the star steps reference
   * the previous round's frame several times, so without lineage
   * truncation the logical plan grows ~4x per round and Catalyst analysis
   * time explodes exponentially — the classic iterative-DataFrame trap.
   * Each round's cut is released once the next round's has materialized;
   * the final edge set and the id set live as long as the returned labels
   * (the [[Stage]] lifecycle, which also says when the cut is reliable).
   */
  def connectedComponents(
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIterations: Int = 50): DataFrame = {
    // The input plan (often a full banding-pair pipeline) feeds BOTH the
    // edge set and the node set below — persist it for the duration of
    // this call so the upstream pipeline executes once, not twice (and
    // not again every time the returned labels are consumed).
    // null ids cannot participate in an ordering-based election — drop the
    // rows (vs emitting a meaningless (null, null) label)
    val raw = pairs.select(col(idACol).as("a"), col(idBCol).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
      .persist()
    try {

    // canonical orientation: (u, v) with u > v, self-pairs dropped
    val canonical = raw.where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct()

    // fixed point = (count, order-independent checksum) of the edge set
    // unchanged across a full round; XOR (not SUM) so ANSI mode can never
    // overflow on the hash aggregate. The signature rides each round's
    // cut job as observed metrics (one driver action per round).
    def cutSigned(e: DataFrame): (DataFrame, (Long, Long)) = {
      val (cp, row) = Stage.cutObserved(e, "graft_cc_sig",
        count(lit(1)).as("n"), expr("bit_xor(xxhash64(u, v))").as("x"))
      (cp, (row.getAs[Long]("n"),
        if (row.isNullAt(row.fieldIndex("x"))) 0L else row.getAs[Long]("x")))
    }

    val init = cutSigned(canonical)
    var cur = init._1
    var sig = init._2
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      val (next, nextSig) = cutSigned(smallStar(largeStar(cur)))
      converged = nextSig == sig
      Stage.release(cur)
      cur = next
      sig = nextSig
      iter += 1
    }
    if (!converged)
      log.warn(s"connectedComponents: not at fixed point after " +
        s"$maxIterations rounds; labels may be non-minimal")
    log.info(s"connectedComponents: ${sig._1} star edges after $iter rounds")

    // at the fixed point edges are (member, component-min) stars; the min
    // itself labels itself. groupBy(min) instead of a bare projection keeps
    // the output well-defined even on a maxIterations bailout.
    val members = cur.select(col("u").as("id"), col("v").as("component"))
      .union(cur.select(col("v").as("id"), col("v").as("component")))
      .groupBy("id").agg(min(col("component")).as("component"))
    // ids appearing only in self-pairs never reach the edge set: they are
    // their own singleton component. Cut so the returned labels are
    // self-contained (consuming them must not re-run the upstream pair
    // pipeline) and the input cache releases on exit, even on failure.
    val allIds = Stage.cut(raw.select(col("a").as("id"))
      .union(raw.select(col("b").as("id"))).distinct())
    allIds.join(members, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))

    } finally raw.unpersist(false)
  }

  /**
   * Incremental cluster election — the daily-crawl shape, matching the
   * incremental pair generators: fold a NEW batch of candidate pairs into
   * an existing `(id, component)` labeling (a prior [[connectedComponents]]
   * output, typically read back from parquet) without re-pairing the
   * corpus. The prior labeling is already a forest of stars, so it
   * collapses in one round; convergence cost scales with the structure of
   * the new edges only. Returns the updated COMPLETE labeling (old ids
   * keep or merge their components; new ids join or found components).
   * Labels remain component MINIMA, so they are stable across increments
   * unless a new edge genuinely merges two clusters.
   */
  def connectedComponentsIncremental(
      labels: DataFrame,
      newPairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIterations: Int = 50): DataFrame = {
    val prior = labels.select(col("id").as(idACol), col("component").as(idBCol))
    // self-pairs keep prior singletons in the output even when no new
    // edge touches them (connectedComponents labels self-paired ids)
    connectedComponents(
      prior.unionByName(newPairs.select(col(idACol), col(idBCol))),
      idACol, idBCol, maxIterations)
  }

  /**
   * Component-election dedup policy: keep one representative (the minimum
   * id) per connected component of `pairs`, return `docs` with all other
   * members removed. Docs never mentioned in `pairs` pass through.
   */
  def keepRepresentatives(
      docs: DataFrame, pairs: DataFrame, idCol: String,
      idACol: String = "id_a", idBCol: String = "id_b"): DataFrame =
    keepRepresentativesByLabels(
      docs, connectedComponents(pairs, idACol, idBCol), idCol)

  /** Same election, but from a PRECOMPUTED `(id, component)` labeling
   * (a [[connectedComponents]] / [[connectedComponentsIncremental]] output,
   * typically read back from parquet) — avoids re-running the iterative
   * labeling when the caller already has it. */
  def keepRepresentativesByLabels(
      docs: DataFrame, labels: DataFrame, idCol: String): DataFrame = {
    val losers = labels
      .where(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * Quality-aware survivor election: per duplicate cluster keep the row
   * with the BEST quality score (highest `qualityCol`, ties broken by
   * lowest id) instead of [[keepRepresentativesByLabels]]'s min-id rule —
   * when near-dup clusters mix a clean original with boilerplate-wrapped
   * or truncated copies, min-id election keeps whichever copy happened to
   * crawl first; quality election keeps the copy a curation pipeline
   * actually wants. Rows absent from `labels` (never paired) pass through
   * untouched.
   *
   * Skew-proof shape: the same two-stage top-1 as `Sampling`'s exact
   * elections — a partial best per (component, input partition), then a
   * global best over at most numPartitions rows per component — so one
   * giant boilerplate cluster never funnels through a single window task.
   */
  def electRepresentativesByLabels(
      docs: DataFrame, labels: DataFrame, idCol: String,
      qualityCol: String): DataFrame = {
    val internal = Seq("_comp", "_part", "_lr", "_rank")
    val clash = internal.filter(docs.columns.contains)
    require(clash.isEmpty,
      s"input columns ${clash.mkString(", ")} collide with electRepresentativesByLabels internals; rename them first")
    val labeled = docs.join(
      labels.select(col("id").as(idCol), col("component").as("_comp")),
      Seq(idCol), "left")
    val order = Seq(col(qualityCol).desc, col(idCol).asc)
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_comp"), col("_part")).orderBy(order: _*)
    val pruned = labeled.where(col("_comp").isNotNull)
      .withColumn("_part", spark_partition_id())
      .withColumn("_lr", row_number().over(wLocal))
      .filter(col("_lr") === 1)
      .drop("_lr", "_part")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_comp")).orderBy(order: _*)
    val winners = pruned
      .withColumn("_rank", row_number().over(w))
      .filter(col("_rank") === 1)
      .drop("_rank")
    winners.unionByName(labeled.where(col("_comp").isNull)).drop("_comp")
  }

  /**
   * The standard corpus dedup chain as ONE call: exact dedup (content
   * hash, min-id election) → MinHash banding candidate pairs over the
   * exact survivors → transitive cluster election (connected
   * components) → one representative per near-dup cluster. Returns the
   * kept documents with their original schema — what `keep` means in a
   * curation pipeline's dedup stage.
   *
   * Composes the individually-gated operators (`dedup_exact`,
   * `dedup_minhash_pairs`, `dedup_components`), inheriting their scale
   * shapes: two hash-key shuffles, banded joins under the hot-bucket
   * cap, O(log n) star rounds. Release the banding caches with
   * `unpersistAll` after consuming the result.
   */
  def dedupCorpus(docs: DataFrame, textCol: String, idCol: String,
      maxBucketSize: Int = 100000): DataFrame = {
    val keep = exact(docs, textCol, idCol).select(col("keep_id").as(idCol))
    val exactKept = docs.join(keep, Seq(idCol))
    val pairs = minhashCandidatePairs(exactKept, textCol, idCol,
      maxBucketSize = maxBucketSize)
    keepRepresentativesByLabels(exactKept, connectedComponents(pairs), idCol)
  }

  /**
   * Asymmetric CONTAINMENT near-dup pairs — the quote/subsumption
   * detector Jaccard structurally misses: a short document fully quoted
   * inside a long one has Jaccard ≈ |A|/|B| (union-dominated, arbitrarily
   * small) but containment |A∩B|/min(|A|,|B|) ≈ 1. MinHash bands are the
   * wrong candidate generator here for the same reason (collision
   * probability tracks Jaccard), so candidates come from the
   * plagiarism-detection shape: an inverted shingle index self-join
   * restricted to shingles with document frequency ≤ `maxShingleDf` —
   * the stopword-shingle guard that bounds candidate cost at Σ df² over
   * RARE shingles (raise the cap for recall, lower it for cost; a pair
   * sharing only ultra-common shingles is noise, not quotation). The
   * the exact intersection decomposes as shared-RARE (read off the
   * candidate join itself — a pair's rare-shingle co-occurrences ARE
   * its candidate rows, so counting replaces distinct-then-rejoin) plus
   * shared-DENSE, counted by joining only each doc's FEW dense shingles
   * onto the candidate pairs (per-doc dense shingles are bounded by the
   * number of distinct over-cap shingles — joining candidates to the
   * FULL shingle lists, the first-cut shape, re-exploded every
   * candidate ~130x and was 10% of the whole bench).
   * Output: id_a, id_b, nsh_a, nsh_b, inter, containment (4dp).
   */
  def containmentPairs(
      docs: DataFrame, textCol: String, idCol: String,
      minContainment: Double = 0.9, maxShingleDf: Int = 100): DataFrame = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment must be in (0,1]: $minContainment")
    require(maxShingleDf >= 1, s"maxShingleDf must be >= 1: $maxShingleDf")
    val shingles = CacheScope.track(ngramShingles(docs, textCol, idCol))
    // shingle document frequency by groupBy + shuffle-hash join-back,
    // never a window keyed on the shingle: a boilerplate shingle with
    // millions of occurrences would funnel into ONE sorted window task
    // (the homoglyph-election lesson); the count aggregate map-side
    // combines and the one-row-per-shingle df table streams against the
    // hot probe key with no sort
    val exploded = CacheScope.track(
      shingles.select(col("sid"), explode(col("sh")).as("s")))
    val dfs = exploded.groupBy("s").agg(count(lit(1)).as("_df"))
    val withDf = CacheScope.track(
      exploded.join(dfs.hint("shuffle_hash"), Seq("s")))
    val rare = withDf.filter(col("_df") <= maxShingleDf)
    val dense = withDf.filter(col("_df") > maxShingleDf)
    val sharedRare = rare.select(col("sid").as("id_a"), col("s"))
      .join(rare.select(col("sid").as("id_b"), col("s")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("_shared_rare"))
    val sharedDense = sharedRare.select("id_a", "id_b")
      .join(dense.select(col("sid").as("id_a"), col("s")), "id_a")
      .join(dense.select(col("sid").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("_shared_dense"))
    val sizes = shingles.select(col("sid"),
      size(col("sh")).cast("long").as("nsh"))
    val inter = sharedRare
      .join(sharedDense, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        (col("_shared_rare") + coalesce(col("_shared_dense"), lit(0L)))
          .as("inter"))
    inter
      .join(sizes.select(col("sid").as("id_a"), col("nsh").as("nsh_a")), "id_a")
      .join(sizes.select(col("sid").as("id_b"), col("nsh").as("nsh_b")), "id_b")
      .withColumn("containment",
        col("inter") * lit(1.0) / least(col("nsh_a"), col("nsh_b")))
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("nsh_a"), col("nsh_b"),
        col("inter"), round(col("containment"), 4).as("containment"))
  }

  /**
   * Golden-record construction — the survivorship step AFTER clustering
   * (connectedComponents → electRepresentatives picks one ROW; this
   * merges the best FIELDS): per cluster and per column, the most
   * frequent non-NULL value wins, ties by value ascending — so a
   * cluster of near-dup records with complementary nulls and typos
   * collapses to one maximally-filled row, deterministically. A column
   * where every member is NULL stays NULL (absence is reported, not
   * invented).
   *
   * Shape: one (cluster, value) count aggregation + one cluster-keyed
   * rank window PER COLUMN (the column list is schema, not data — k
   * small by construction), then k-1 cluster-keyed joins assemble the
   * golden row. Everything cluster-keyed; no global state.
   * Output: clusterCol + one column per requested field (original
   * names, original types).
   */
  def goldenRecord(df: DataFrame, clusterCol: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "goldenRecord needs at least one column")
    import org.apache.spark.sql.expressions.Window
    val clusters = df.select(col(clusterCol)).distinct()
    cols.foldLeft(clusters) { (acc, c) =>
      val counts = df.filter(col(c).isNotNull)
        .groupBy(col(clusterCol), col(c))
        .agg(count(lit(1)).as("_n"))
      val w = Window.partitionBy(col(clusterCol))
        .orderBy(col("_n").desc, col(c).asc)
      val winner = counts
        .withColumn("_r", row_number().over(w))
        .filter(col("_r") === 1)
        .select(col(clusterCol), col(c))
      acc.join(winner, Seq(clusterCol), "left")
    }
  }

  /**
   * LSH banding parameter tuner — the design-time calculator behind
   * every (bands, rowsPerBand) choice in this file: for each divisor
   * split b·r = `signatureLen`, the S-curve P(match | s) = 1−(1−s^r)^b
   * is integrated (midpoint rule, `gridPoints` cells) into a
   * false-positive area below `threshold` (∫₀ᵗ P ds — pairs the curve
   * admits that the threshold says are non-dups) and a false-negative
   * area above it (∫ᵗ¹ (1−P) ds); rank 1 is the split minimizing their
   * sum. This is data-independent arithmetic — run it BEFORE touching
   * the corpus, then hand the winning (b, r) to minhashCandidatePairs.
   * Shape: a divisors × grid crossJoin of literals-range frames (a few
   * thousand rows of pure codegen arithmetic), one keyed aggregation.
   * Output per split: bands, rows_per_band, fp_area, fn_area (6dp),
   * total_err (6dp), rank.
   */
  def lshTune(spark: org.apache.spark.sql.SparkSession, signatureLen: Int,
      threshold: Double, gridPoints: Int = 200): DataFrame = {
    require(signatureLen >= 1, "signatureLen must be >= 1")
    require(threshold > 0.0 && threshold < 1.0, "threshold must be in (0,1)")
    require(gridPoints >= 10, "gridPoints must be >= 10")
    import spark.implicits._
    // the divisor list is O(sqrt(n)) arithmetic on a PARAMETER, not data
    val splits = (1 to signatureLen).filter(signatureLen % _ == 0)
      .map(b => (b.toLong, (signatureLen / b).toLong))
    val grid = spark.range(0, gridPoints)
      .select(((col("id") + lit(0.5)) / lit(gridPoints.toDouble)).as("s"))
    val p = lit(1.0) - pow(lit(1.0) - pow(col("s"), col("r")), col("b"))
    splits.toDF("b", "r").crossJoin(grid)
      .select(col("b"), col("r"),
        when(col("s") < threshold, p).otherwise(lit(0.0)).as("fp"),
        when(col("s") >= threshold, lit(1.0) - p).otherwise(lit(0.0))
          .as("fn"))
      .groupBy("b", "r")
      .agg(round(sum("fp") / gridPoints, 6).as("fp_area"),
        round(sum("fn") / gridPoints, 6).as("fn_area"))
      .withColumn("total_err",
        round(col("fp_area") + col("fn_area"), 6))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("total_err"), col("b"))).cast("long"))
      .select(col("b").as("bands"), col("r").as("rows_per_band"),
        col("fp_area"), col("fn_area"), col("total_err"), col("rank"))
  }

  /**
   * LSH accuracy harness — the MEASURED recall/precision of a minhash
   * banding config against exact Jaccard ground truth, closing the
   * loop [[lshTune]] opens: the tuner integrates the S-curve over a
   * UNIFORM similarity grid (design-time, data-independent); this
   * measures the same config on the DATA's similarity distribution and
   * also reports the S-curve's own prediction averaged over the true
   * pairs (predicted_recall = mean over truth of 1 − (1 − J^r)^b), so
   * a gap between predicted and measured recall indicts the banding
   * implementation, not the theory. Run it on a SAMPLE before
   * committing a config to a corpus pass — that is the harness's job.
   *
   * Ground truth is exact Jaccard over the SAME 3-word shingles the
   * signatures hash, generated by the shingle inverted-index join
   * (pairs sharing ≥ 1 shingle — complete for any threshold > 0, never
   * an all-pairs product). Honest envelope: a shingle shared by m docs
   * contributes m² join rows and there is deliberately NO cap here —
   * capping truth would bias measured recall upward, the one thing an
   * eval harness must not do. Sample-scale is the intended regime.
   * Output: 1 row — n_truth, n_candidates, n_hits, precision (4dp),
   * recall (4dp), predicted_recall (4dp).
   */
  def lshEval(docs: DataFrame, textCol: String, idCol: String,
      minJaccard: Double = 0.5, numHashes: Int = 8, bandSize: Int = 2,
      maxBucketSize: Int = 100000): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1,
      s"minJaccard must be in (0,1]: $minJaccard")
    require(numHashes % bandSize == 0,
      s"bandSize $bandSize must divide numHashes $numHashes")
    val bands = numHashes / bandSize
    val sh = CacheScope.track(
      ngramShingles(docs, textCol, idCol))
    val sizes = sh.select(col("sid"), size(col("sh")).as("c"))
    val ex = sh.select(col("sid"), explode(col("sh")).as("s"))
    // truth and cand are each read TWICE below (their own 1-row
    // aggregate + the hits semi-join); unpinned, the m² inverted-index
    // truth join and the banded candidate join re-evaluated once per
    // reference (r19 profile: the two heaviest stages of the query were
    // the same join twice — 13.1 s + 6.4 s of task time). Pinned, each
    // evaluates once; both frames are pair-sized, released by
    // unpersistAll like the other pair-operator pins.
    val truth = CacheScope.track(ex.as("x")
      .join(ex.as("y"),
        col("x.s") === col("y.s") && col("x.sid") < col("y.sid"))
      .groupBy(col("x.sid").as("ia"), col("y.sid").as("ib"))
      .agg(count(lit(1)).as("n"))
      .join(sizes.select(col("sid").as("ia"), col("c").as("ca")), "ia")
      .join(sizes.select(col("sid").as("ib"), col("c").as("cb")), "ib")
      .withColumn("j", col("n") / (col("ca") + col("cb") - col("n")))
      .filter(col("j") >= minJaccard)
      .select(col("ia"), col("ib"),
        (lit(1.0) - pow(lit(1.0) - pow(col("j"), bandSize), bands))
          .as("p_hit")))
    val cand = CacheScope.track(
      minhashCandidatePairs(docs, textCol, idCol, numHashes,
        bandSize, maxBucketSize)
        .select(col("id_a").as("ia"), col("id_b").as("ib")))
    val tAgg = truth.agg(count(lit(1)).as("n_truth"),
      sum(col("p_hit")).as("_psum"))
    val cAgg = cand.agg(count(lit(1)).as("n_candidates"))
    val hAgg = cand.join(truth, Seq("ia", "ib"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    tAgg.crossJoin(cAgg).crossJoin(hAgg)
      .select(col("n_truth"), col("n_candidates"), col("n_hits"),
        round(when(col("n_candidates") > 0,
          col("n_hits") / col("n_candidates")).otherwise(lit(0.0)), 4)
          .as("precision"),
        round(when(col("n_truth") > 0,
          col("n_hits") / col("n_truth")).otherwise(lit(0.0)), 4)
          .as("recall"),
        round(when(col("n_truth") > 0,
          col("_psum") / col("n_truth")).otherwise(lit(0.0)), 4)
          .as("predicted_recall"))
  }

  /**
   * Dedup run report — the one-row summary every dedup pass should
   * publish (a pipeline that silently drops 40% of a crawl needs that
   * number ON the dashboard, not in a log): from any (id, cluster)
   * assignment — exact-hash groups, [[connectedComponents]] output,
   * URL keys — the corpus size, cluster count, duplicate count (rows
   * beyond each cluster's first), duplicate fraction, singleton count,
   * and the largest cluster (the "one template swallowed the crawl"
   * tell). Two aggregations: cluster-keyed sizes, then a 1-row rollup
   * — the report never touches content columns.
   * Output: n_docs, n_clusters, n_dups, dup_frac (4dp), n_singletons,
   * max_cluster_size.
   */
  /**
   * Corpus source-overlap matrix — the dedup PLANNING view before any
   * pairwise run: pairwise shingle-set Jaccard between SOURCES (crawls,
   * dumps, vendors), answering "which feeds duplicate each other and
   * how much" at the aggregate level where the decision to dedup
   * across feeds (or drop one wholesale) is actually made. Exact over
   * distinct 3-word shingles per source ([[ngramShingles]]'s
   * definition, so this view and the document-level dedup agree on
   * what a shingle is); EVERY source pair appears, including
   * zero-overlap ones (an empty intersection is the finding "these
   * feeds are disjoint", not a missing row).
   *
   * Scale shape: the big frame is distinct (source, shingle) — one
   * shuffle; the intersection join groups BY SHINGLE where fanout is
   * ≤ C(#sources, 2) per shingle (#sources is small by definition of
   * "source" — this is a feeds-level view, not a key-level one), so
   * the join output is linear in distinct shingles; the final matrix
   * is #sources² rows. Output: source_a < source_b, n_a, n_b, inter,
   * jaccard (4dp; NULL when both sides are empty).
   */
  def sourceOverlap(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val gs = docs
      .select(col(groupCol).cast("string").as("g"),
        split(col(textCol), " ", -1).as("tok"))
      .filter(size(col("tok")) >= 3)
      .select(col("g"), explode(expr(shingleExpr)).as("s"))
      .distinct()
    val sizes = docs.select(col(groupCol).cast("string").as("g")).distinct()
      .join(gs.groupBy("g").agg(count(lit(1)).as("n")), Seq("g"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val inter = gs.select(col("g").as("source_a"), col("s"))
      .join(gs.select(col("g").as("source_b"), col("s")), Seq("s"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("inter"))
    sizes.select(col("g").as("source_a"), col("n").as("n_a"))
      .join(sizes.select(col("g").as("source_b"), col("n").as("n_b")),
        col("source_a") < col("source_b"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("inter"),
        round(when(col("n_a") + col("n_b") - col("inter") > 0,
          col("inter") / (col("n_a") + col("n_b") - col("inter"))), 4)
          .as("jaccard"))
  }

  /**
   * Per-source dedup-rate report — the post-run TELEMETRY beside
   * [[sourceOverlap]]'s planning view and [[clusterStats]]'s
   * corpus-level totals: for each source (crawl, dump, vendor), how
   * many documents the exact and near-dup stages actually removed and
   * what fraction survived — the per-feed duplicate-rate dashboard a
   * curation pipeline reviews each refresh (a source whose pct_kept
   * collapses between refreshes is re-crawling itself; one whose
   * near-dup rate dwarfs its exact rate is boilerplate-heavy, not
   * mirror-heavy — different remediations).
   *
   * Fate rules are EXACTLY [[graft.ops.Curate.curateCorpus]]'s dedup
   * stages so the report explains that pipeline's drops: exact_dup =
   * not the content hash's smallest id; near_dup = an exact SURVIVOR
   * that appears as the larger id of a minhash banding candidate pair;
   * kept = everything else. Scale shape: the exact election's one
   * hash groupBy + the banded candidate join (both documented), two
   * id-keyed glue joins, one source aggregation; the input is pinned
   * (Ops scope) because three subtrees read it.
   * Output: one row per source — source, n_docs, n_exact_dups,
   * n_near_dups, n_kept, pct_kept (4dp).
   */
  def dedupReport(docs: DataFrame, textCol: String, idCol: String,
      sourceCol: String, maxBucketSize: Int = 100000): DataFrame = {
    val base = CacheScope.track(
      docs.select(col(idCol), col(textCol), col(sourceCol)))
    val reps = exact(base, textCol, idCol)
      .select(col("keep_id").as(idCol))
    val surv = CacheScope.track(base.join(reps, Seq(idCol)))
    val nearDrop = minhashCandidatePairs(surv, textCol, idCol,
        maxBucketSize = maxBucketSize)
      .select(col("id_b").as(idCol)).distinct()
      .withColumn("_nd", lit(true))
    val fate = base
      .join(reps.withColumn("_rep", lit(true)), Seq(idCol), "left")
      .join(nearDrop, Seq(idCol), "left")
      .withColumn("_fate",
        when(col("_rep").isNull, lit("exact_dup"))
          .when(col("_nd").isNotNull, lit("near_dup"))
          .otherwise(lit("kept")))
    fate.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("_fate") === "exact_dup", 1L)
          .otherwise(0L)), lit(0L)).as("n_exact_dups"),
        coalesce(sum(when(col("_fate") === "near_dup", 1L)
          .otherwise(0L)), lit(0L)).as("n_near_dups"),
        coalesce(sum(when(col("_fate") === "kept", 1L).otherwise(0L)),
          lit(0L)).as("n_kept"))
      .withColumn("pct_kept",
        round(col("n_kept") / col("n_docs").cast("double"), 4))
  }

  def clusterStats(assign: DataFrame, idCol: String,
      clusterCol: String): DataFrame = {
    val sizes = assign.groupBy(col(clusterCol))
      .agg(count(col(idCol)).as("_n"))
    sizes.agg(
      sum(col("_n")).as("n_docs"),
      count(lit(1)).as("n_clusters"),
      sum(col("_n") - 1).as("n_dups"),
      round((sum(col("_n")) - count(lit(1))) / sum(col("_n")), 4)
        .as("dup_frac"),
      count(when(col("_n") === 1, lit(1))).as("n_singletons"),
      max(col("_n")).as("max_cluster_size"))
  }
}
