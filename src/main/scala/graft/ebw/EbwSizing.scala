package graft.ebw

import org.apache.spark.SparkContext

/**
 * Pre-flight sizing for the large-k sparse-Gram path — turns the two
 * documented N=1e7 operational cliffs (driver OOM merging per-partition
 * sparse-Gram partials; `spark.driver.maxResultSize` trip — SURVEY §6)
 * into solver BEHAVIOR, decided before the first aggregation pass from
 * numbers the validation scan already produced:
 *
 *  - `partitions`: sized so one partition's sparse-Gram partial stays near
 *    `TargetPartialBytes` (a partial holds at most
 *    min(realized-Gram, rows/partition · nnz(nnz+1)/2) entries) and the
 *    partials building at once, with their partitions' cached Gram
 *    patterns, fit the heap.
 *  - `depth`: treeAggregate depth minimizing the bytes the driver
 *    collects (deeper trees merge more partials executor-side; the win
 *    saturates once merged partials approach the realized Gram size).
 *    A depth that merges nothing executor-side selects the direct
 *    reduction ([[Plan.direct]]).
 *  - `mode`: when even the best depth cannot land the merged Gram within
 *    the driver's `maxResultSize`/heap budget, the solve switches to the
 *    DISTRIBUTED-Gram mode (EbwAggregator.gramRdd +
 *    DriverLinalg.cgSolveRdd): the Gram lives as an RDD merged by
 *    reduceByKey across executors, CG matvecs run distributed, and driver
 *    traffic per CG iteration is O(k) — no driver-size ceiling at any N.
 *
 * All estimates are upper bounds (sumPairs counts every contribution as a
 * distinct entry), so the driver path is only chosen when it is safe and
 * the distributed path engages conservatively early — costing extra
 * passes, never an OOM.
 */
private[ebw] object EbwSizing {

  /** Per-partition serialized-partial target. */
  val TargetPartialBytes: Long = 64L << 20
  /** Serialized bytes per Gram entry of a partial, bounding both
   * reductions of EbwAggregator.runPattern. On the keyed tree a partial
   * ships as a GramSum: the primitive key and value arrays of its
   * key-sorted runs, 8 B key + 8 B value = 16 B per run entry. Each run
   * is at most the partial's merged size and the run sizes more than
   * halve, so the runs hold under twice the merged entries: 32 B per
   * merged entry bounds it. The direct reduction ([[Plan.direct]])
   * collects each partition's values over its local keys, 8 B per local
   * entry (16 B with the keys on a solve's first pass); with every
   * partial collected unmerged that is never more than the keyed bound
   * it replaces. */
  val SerBytesPerEntry: Long = 32L
  /** Driver-resident bytes per merged Gram entry. The merged keys and
   * values take 16 B/entry; the Newton kernel keeps them decoded into 4 B
   * row and 4 B column indices for cgSolve, 8 B/entry more — held for the
   * whole solve on the direct reduction (its keys never change), and
   * from one direction to the next pass's on the keyed tree. That is
   * 24 B/entry held between passes, plus 8 B for the next pass's values.
   * While a GramSum adds keyed partials up it holds its pending runs
   * (under twice the merged Gram), the arriving partial and one merge's
   * output, under 64 B per merged entry in all, 72 B with the kernel's
   * decode of the previous keys.
   * 48 is kept as a conservative upper bound: `plan` budgets it ×2 (96 B)
   * for the merge working set, which still covers both. The direct
   * reduction holds per-local-entry state on top
   * ([[DirectBytesPerLocalEntry]]). */
  val HeapBytesPerEntry: Long = 48L
  /** Driver bytes per local Gram entry on the direct reduction: the
   * collected values (8 B), the local -> global index map kept for the
   * solve (4 B) and, on the first pass only, the collected local keys
   * (8 B). */
  val DirectBytesPerLocalEntry: Long = 20L
  /** Bytes of one partition's cached Gram pattern (EbwAggregator.GramBlock)
   * per row contribution: a 4 B slot, at most one 8 B local key, and at
   * most one CSR entry (12 B: an Int index and a Double value), since
   * every listed entry contributes its own diagonal pair. */
  val PatternBytesPerPair: Long = 24L
  /** Pattern bytes per row: the Int row pointer, the Double w0 and the
   * Int group. */
  val PatternBytesPerRow: Long = 16L
  val MaxPartitions: Int = 4096

  /** @param direct whether every partial already reaches the driver
   *               unmerged (treeAggregate at `depth` over `partitions`
   *               has no executor level), so the sparse pass collects
   *               them by partition index and adds them in that order on
   *               the driver (EbwAggregator.runPattern) */
  final case class Plan(
      partitions: Int,
      depth: Int,
      gramCapEntries: Long,
      driverCollectBytes: Long,
      driverHeapBytes: Long,
      distributedGram: Boolean,
      why: String,
      direct: Boolean)

  private def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b

  /** Final partial count of RDD.treeAggregate at `depth` over `p`
   * partitions (mirrors its scale/while-loop reduction schedule exactly:
   * the loop CONDITION uses ceil(cur/scale) but the loop BODY shrinks
   * with INTEGER division, `numPartitions /= scale` in RDD.treeAggregate —
   * modeling the body as ceil over-counts the final partials, e.g. 7
   * instead of Spark's 6 at (48, depth 2), and the drift can trigger an
   * extra division round that under-estimates driver collect bytes). */
  private[ebw] def finalParts(p: Int, depth: Int): Int = {
    if (p <= 1) return p
    val scale = math.max(math.ceil(math.pow(p.toDouble, 1.0 / depth)).toInt, 2)
    var cur = p
    while (cur > scale + math.ceil(cur / scale.toDouble).toInt) {
      cur = cur / scale
    }
    cur
  }

  private def collectBytes(gramCap: Long, sumPairs: Long, p: Int, depth: Int): Long = {
    val f = math.max(1, finalParts(p, depth))
    f.toLong * math.min(gramCap, ceilDiv(sumPairs, f.toLong)) * SerBytesPerEntry
  }

  /** In-heap bytes per Gram entry while a partial or a partition's
   * pattern is BUILDING: a KeyIndex holds 12 B per slot (key + id) at
   * load ≤ 0.5 (24-48 B/entry), and a GramTable adds 8-16 B/entry of
   * values; the grow transient (old table + doubled table, 36 B per old
   * slot) peaks at 72 B/entry plus values just past a doubling, and
   * finishing the sorted keys adds 20 B/entry (keys, values, id ranks).
   * 96 B/entry is therefore an upper bound on the build. */
  val BuildBytesPerEntry: Long = 2L * HeapBytesPerEntry

  /** Per-task in-flight budget for a partial and its partition's cached
   * Gram pattern: `cores` partials build AT ONCE
   * in one executor JVM (local mode: the driver JVM itself), so the
   * concurrent set — not one partial — is what must fit. A quarter of
   * the heap across all concurrent tasks, floored at 8 MiB so tiny
   * heaps still make progress. The round-12 OOM this encodes: at
   * N=1e7/k=1e5 the no-collision Gram realizes the sumPairs upper
   * bound, and 32 concurrent 64 MiB-target partials (~200 MiB in-heap
   * each at build headroom) blew an 8 GiB heap that a single partial
   * fit comfortably. */
  def perTaskPartialBytes(maxHeap: Long, cores: Int): Long =
    math.max(8L << 20, (maxHeap / 4) / math.max(1, cores))

  /**
   * @param k            moment dimension
   * @param sumPairs     Σ nnz_i(nnz_i+1)/2 from the validation pass, nnz_i
   *                     a dense row's nonzeros or a sparse row's listed
   *                     entries (EbwAggregator.rowNnz)
   * @param currentParts partitions of the prepared row RDD
   * @param maxResultSize `spark.driver.maxResultSize` in bytes (0 = unlimited)
   * @param maxHeap      driver JVM max heap (Runtime.maxMemory)
   * @param cores        concurrent tasks per executor JVM (local mode:
   *                     the session's parallelism); 1 = legacy single-
   *                     partial sizing
   * @param rows         rows of the problem (each costs its partition's
   *                     cached pattern [[PatternBytesPerRow]])
   * @param groups       problems sharing the pass (a grouped solve's
   *                     groups): the merged Gram holds a triangle per group
   */
  def plan(k: Int, sumPairs: Long, currentParts: Int,
      maxResultSize: Long, maxHeap: Long, cores: Int = 1, rows: Long = 0L,
      groups: Int = 1): Plan = {
    val tri = groups.toLong * k * (k + 1) / 2
    val gramCap = math.max(1L, math.min(tri, sumPairs))
    val pForPartial = ceilDiv(sumPairs * SerBytesPerEntry, TargetPartialBytes)
    // a task holds its partial while building it plus its partition's
    // cached pattern
    val taskBytes = sumPairs * (BuildBytesPerEntry + PatternBytesPerPair) +
      rows * PatternBytesPerRow
    val pForHeap = ceilDiv(taskBytes,
      math.max(1L, perTaskPartialBytes(maxHeap, cores)))
    val partitions = math.max(currentParts,
      math.min(MaxPartitions.toLong,
        math.max(pForPartial, pForHeap)).toInt)
    // Depth: the SMALLEST depth whose driver collect fits the budget.
    // Every extra tree level re-serializes near-Gram-sized partials
    // through another executor-side merge round — measured 1.8x per
    // aggregation pass at N=1e6 when a 64-byte ceil-rounding tie sent
    // minBy-on-collect-bytes to depth 3 — so deeper trees are a rescue
    // lever for driver mode, never a micro-optimization of collect bytes.
    val resultBudget =
      if (maxResultSize > 0) (maxResultSize * 4) / 5 else Long.MaxValue
    val depth = (2 to 4)
      .find(d => collectBytes(gramCap, sumPairs, partitions, d) <= resultBudget)
      .getOrElse((2 to 4).minBy(d => collectBytes(gramCap, sumPairs, partitions, d)))
    val collect = collectBytes(gramCap, sumPairs, partitions, depth)
    val direct = finalParts(partitions, depth) == partitions
    // the direct reduction adds its per-local-entry state (at most
    // sumPairs local entries, and at most the whole Gram per partition)
    val heapNeed = 2L * gramCap * HeapBytesPerEntry + (if (!direct) 0L
      else math.min(sumPairs, partitions.toLong * gramCap) * DirectBytesPerLocalEntry)
    val overResult = maxResultSize > 0 && collect > (maxResultSize * 4) / 5
    val overHeap = heapNeed > (maxHeap * 3) / 5
    val why =
      if (overResult && overHeap)
        s"collect ~${collect >> 20} MiB > 80% of maxResultSize AND merged Gram ~${heapNeed >> 20} MiB > 60% of driver heap"
      else if (overResult)
        s"collect ~${collect >> 20} MiB exceeds 80% of maxResultSize (${maxResultSize >> 20} MiB)"
      else if (overHeap)
        s"merged Gram ~${heapNeed >> 20} MiB exceeds 60% of driver heap (${maxHeap >> 20} MiB)"
      else
        s"driver Gram fits: collect ~${collect >> 20} MiB, heap ~${heapNeed >> 20} MiB"
    Plan(partitions, depth, gramCap, collect, heapNeed,
      distributedGram = overResult || overHeap, why = why, direct = direct)
  }

  /** The options every solve checks at entry, whatever its route. */
  def checkOptions(options: EbwOptions): Unit = {
    require(Set("auto", "driver", "distributed")(options.gramMode),
      s"gramMode must be auto|driver|distributed: ${options.gramMode}")
    require(options.shardParallelism >= 1,
      s"shardParallelism must be >= 1: ${options.shardParallelism}")
  }

  /** The Gram route every solver takes, single and grouped: None on the
   * dense path (k <= denseGramMax); otherwise the sizing plan for
   * `sumPairs` Gram contributions of `groups` problems over `parts`
   * partitions and whether the Gram is distributed. gramMode
   * "distributed" forces it, "driver" fails fast with the sized error
   * when the merged Gram cannot fit ([[requireDriverFits]]), "auto"
   * follows the plan. */
  def route(sc: SparkContext, k: Int, sumPairs: Long, parts: Int,
      options: EbwOptions, rows: Long, groups: Int): Option[(Plan, Boolean)] = {
    if (k <= options.denseGramMax) return None
    val maxResult = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val maxHeap = Runtime.getRuntime.maxMemory
    val plan = EbwSizing.plan(k, sumPairs, parts, maxResult, maxHeap,
      cores = sc.defaultParallelism, rows = rows, groups = groups)
    val dist = options.gramMode match {
      case "driver" =>
        requireDriverFits(plan, maxResult, maxHeap); false
      case "distributed" => true
      case _ => plan.distributedGram
    }
    Some((plan, dist))
  }

  /** Reduce-side partition count for the distributed Gram
   * (EbwAggregator.gramRdd): merged entries spread so one partition's
   * map stays near the partial target AND the concurrent reduce-task
   * set stays inside the same heap budget as the map side. */
  def gramAggParts(plan: Plan, maxHeap: Long = 0L, cores: Int = 1): Int = {
    val pForTarget =
      ceilDiv(plan.gramCapEntries * HeapBytesPerEntry, TargetPartialBytes)
    val pForHeap =
      if (maxHeap <= 0L) 1L
      else ceilDiv(plan.gramCapEntries,
        math.max(1L, perTaskPartialBytes(maxHeap, cores) / BuildBytesPerEntry))
    math.max(8, math.min(MaxPartitions.toLong,
      math.max(pForTarget, pForHeap)).toInt)
  }

  /** For a caller that FORCES the driver path (gramMode = "driver"):
   * fail fast with a sized, actionable message instead of OOMing
   * mid-solve. */
  def requireDriverFits(plan: Plan, maxResultSize: Long, maxHeap: Long): Unit = {
    if (!plan.distributedGram) return
    val needResult = (plan.driverCollectBytes * 5 / 4) >> 20
    val needHeap = (plan.driverHeapBytes * 5 / 3) >> 20
    throw new IllegalStateException(
      s"gramMode=driver cannot hold this problem's sparse Gram on the driver " +
      s"(${plan.why}). Either raise spark.driver.maxResultSize to >= " +
      s"${needResult} MiB and driver memory to >= ${needHeap} MiB " +
      s"(SPARK_DRIVER_MEM under sbt), reduce the moment dimension / row " +
      s"density, or use gramMode=auto|distributed (the no-driver-ceiling " +
      s"path).")
  }
}
