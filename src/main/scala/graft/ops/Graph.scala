package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Link-graph analytics for corpus curation. Host-level PageRank is the
 * classic crawl-quality signal (the Common Crawl host ranking lineage):
 * a domain linked by many well-linked domains earns rank, and rank-poor
 * hosts are crawl/keep deprioritized. Runs on any (src, dst) edge frame
 * — e.g. TextMetrics.extractUrls output joined source-domain → linked
 * domain.
 *
 * The iteration is the standard damped power method with dangling-mass
 * redistribution:
 *
 *   r_{t+1}(v) = (1-d)/N + d * ( sum_{u->v} r_t(u)/outdeg(u) + D_t/N )
 *
 * where D_t is the total rank of dangling nodes (no out-edges) and
 * multi-edges count multiplicity. Each iteration ROUNDS ranks to 10
 * decimals: per-iteration float wobble from parallel sum order is
 * ~1e-13, so rounding pins every engine and partitioning to identical
 * ranks while leaving 6+ meaningful digits — the same
 * determinism-by-rounding contract as Similarity.kmeansAssign.
 *
 * Scale shape: one edges⋈ranks join (shuffle on src) + one dst
 * aggregation per iteration — the canonical distributed PageRank; N and
 * the dangling mass enter as 1-row aggregate subtrees (no count()
 * actions, nothing driver-side); lineage is cut ([[Stage.cut]]) every
 * few rounds so plan depth stays bounded at any iteration count, and
 * each cut is released once the next one has materialized.
 */
object Graph {

  /**
   * PageRank over `edges` (srcCol, dstCol node ids of any orderable
   * type): returns (node, rank) for every node appearing as a source or
   * destination, after exactly `iters` power iterations at damping `d`.
   * Rank mass sums to ~1; results are deterministic across engines and
   * partitionings (10-decimal per-iteration rounding).
   */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85,
      checkpointEvery: Int = 8): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    require(damping > 0.0 && damping < 1.0, "damping must be in (0, 1)")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val nTot = nodes.select(count(lit(1)).cast("double").as("n"))
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("double").as("deg"))
    var ranks = nodes.crossJoin(nTot)
      .select(col("node"), round(lit(1.0) / col("n"), 10).as("rank"))
    var lastCut: Option[DataFrame] = None
    for (t <- 0 until iters) {
      val contrib = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outdeg.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") / col("deg")).as("s"))
      val dangling = ranks
        .join(outdeg, Seq("node"), "left_anti")
        .select(coalesce(sum(col("rank")), lit(0.0)).as("m"))
      ranks = nodes
        .join(contrib, Seq("node"), "left")
        .crossJoin(nTot).crossJoin(dangling)
        .select(col("node"),
          round(lit(1.0 - damping) / col("n")
            + lit(damping) * (coalesce(col("s"), lit(0.0)) + col("m") / col("n")),
            10).as("rank"))
      // bound plan depth: each round otherwise stacks 3 joins of lineage
      if ((t + 1) % checkpointEvery == 0 && t + 1 < iters) {
        ranks = Stage.cut(ranks)
        lastCut.foreach(Stage.release)
        lastCut = Some(ranks)
      }
    }
    ranks
  }

  /**
   * Per-node triangle counts + local clustering coefficient over the
   * UNDIRECTED SIMPLE graph induced by `edges` (self-loops dropped,
   * direction and multi-edges collapsed) — the link-farm / citation-ring
   * detector: tightly clustered neighborhoods score near 1, trees and
   * stars score 0.
   *
   * The naive wedge join explodes on hubs (a degree-10^6 host yields
   * 10^12 wedges). Standard fix — DEGREE-ORDERED ORIENTATION (Schank &
   * Wagner; the Suri–Vassilvitskii MapReduce bound): direct every edge
   * from its (degree, id)-smaller endpoint to the larger; every node's
   * forward degree is O(sqrt(m)) amortized, so the wedge join does
   * O(m^1.5) TOTAL work regardless of skew. Each triangle has exactly
   * one vertex with two forward edges (its orientation minimum), and
   * wedge legs are ordered by the same key, so each triangle forms
   * EXACTLY once by construction — no distinct pass, the Interval/
   * coOccurrence contract.
   *
   * Output: (node, deg, n_triangles, clustering) for every node, where
   * clustering = 2·T / (deg·(deg−1)) at 4dp, NULL when deg < 2.
   */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges
      .select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient a–b toward the (deg, id)-larger endpoint; a<b breaks ties
    val fwd = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("s"), col("b").as("t"), col("db").as("dt")))
          .otherwise(struct(col("b").as("s"), col("a").as("t"),
            col("da").as("dt"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))
    val wedges = fwd.select(col("s"), col("t").as("t1"), col("dt").as("dt1"))
      .join(fwd.select(col("s"), col("t").as("t2"), col("dt").as("dt2")),
        Seq("s"))
      .where(col("dt1") < col("dt2") ||
        (col("dt1") === col("dt2") && col("t1") < col("t2")))
    val tris = wedges
      .join(fwd.select(col("s").as("t1"), col("t").as("t2")), Seq("t1", "t2"))
      .select(col("s"), col("t1"), col("t2"))
    val perNode = tris
      .select(explode(array(col("s"), col("t1"), col("t2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L))
            / (col("deg") * (col("deg") - 1)), 4)).as("clustering"))
  }

  /**
   * HITS hubs and authorities (Kleinberg 1999) — PageRank's directed
   * dual for curation: an AUTHORITY is linked by good hubs (the pages
   * worth keeping), a HUB links to good authorities (the directories /
   * link lists worth crawling from — and the link farms worth
   * investigating when hub score decouples from authority). The mutual
   * recursion a = E'h, h = Ea runs `iters` rounds with L2
   * normalization; scores round to 10 decimals per iteration (the
   * pageRank determinism-by-rounding contract) and 6dp on output.
   * Multi-edges count multiplicity, matching pageRank.
   *
   * Per round: one edges⋈scores join + one aggregation per direction,
   * norms as 1-row aggregate subtrees, then ONE [[Stage.cut]] of the
   * round's (node, h, a) frame, which releases the round before. The
   * cut each round is load-bearing, not hygiene: the norm crossJoins
   * and the h←a dependency re-reference the round's frames up to ~8×,
   * so an UN-truncated recursion multiplies its predecessor's lineage every
   * round — exponential re-execution by round 8 (measured: 100 s on a
   * 997-node graph from exactly this; 5 s with the per-round cut).
   * Within a round the ≤8× re-evaluation of a shallow nodes-sized join
   * is cheaper than extra materialization jobs would be.
   * Output: (node, hub, authority) for every node.
   */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = Stage.cut(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    // `nodes` lives as long as the returned frame; `e` only as the loop
    val nodes = Stage.cut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    // r18 optimization: the iteration carries only NONZERO scores.
    // Zero-score nodes contribute exactly 0.0 to both L2 norms and to
    // the next round's sums (and a dropped 0.0 term cannot move a float
    // sum), so the two per-round nodes⋈scores left-joins that existed
    // only to materialize those zeros were pure overhead — 2 of the 4
    // joins per round gone, identical scores (the 10dp per-round
    // rounding pins both forms to the same values; gate-verified).
    // Absent nodes re-enter as 0/0 in the final projection.
    // r19 (VERDICT r18 #3): norms as DISTRIBUTED 1-row aggregates
    // crossJoin-broadcast back, reading each direction's raw-score frame
    // from a PIN. The r18 partition-less window funneled every
    // nonzero-score node through ONE task twice per iteration — a
    // NODE-sized frame, not a bounded carry table, i.e. billions of rows
    // through a single task on a corpus-scale graph. The pin keeps r18's
    // join-elimination win: the edges⋈scores join+agg — the only
    // data-scale work of a round — still evaluates once per direction
    // (the norm subtree and the score projection both read the cache),
    // and each round's pins release the moment the round's checkpoint
    // has materialized. Values pinned by the same 10dp rounding (the
    // oracle computes the identical plain-aggregate norm).
    var scores = nodes.select(col("node"), lit(1.0).as("h"), lit(1.0).as("a"))
    for (t <- 0 until iters) {
      val aRaw = CacheScope.track(
        e.join(scores.select(col("node").as("src"), col("h")), "src")
          .groupBy(col("dst").as("node")).agg(sum("h").as("ar")))
      val aDf = aRaw.crossJoin(
          broadcast(aRaw.agg(sqrt(sum(col("ar") * col("ar"))).as("_an"))))
        .select(col("node"),
          round(when(col("_an") > 0, col("ar") / col("_an"))
            .otherwise(lit(0.0)), 10).as("a"))
      val hRaw = CacheScope.track(
        e.join(aDf.select(col("node").as("dst"), col("a")), "dst")
          .groupBy(col("src").as("node")).agg(sum("a").as("hr")))
      val hDf = hRaw.crossJoin(
          broadcast(hRaw.agg(sqrt(sum(col("hr") * col("hr"))).as("_hn"))))
        .select(col("node"),
          round(when(col("_hn") > 0, col("hr") / col("_hn"))
            .otherwise(lit(0.0)), 10).as("h"))
      val next = Stage.cut(hDf.join(aDf, Seq("node"), "full")
        .select(col("node"), coalesce(col("h"), lit(0.0)).as("h"),
          coalesce(col("a"), lit(0.0)).as("a")))
      // the eager cut above ended every reference to this round's raw
      // frames and to the previous round's cut — release them now, not at
      // session teardown
      CacheScope.untrack(aRaw)
      CacheScope.untrack(hRaw)
      if (t > 0) Stage.release(scores)
      scores = next
    }
    Stage.release(e)
    nodes.join(scores, Seq("node"), "left")
      .select(col("node"), round(coalesce(col("h"), lit(0.0)), 6).as("hub"),
        round(coalesce(col("a"), lit(0.0)), 6).as("authority"))
  }

  /**
   * k-core of the undirected simple graph — the densely-knit subgraph
   * left after repeatedly peeling every node of degree < k (Seidman
   * 1983). The spam/link-farm core detector that survives where raw
   * degree fails: a star hub has huge degree but dies in the 2-core
   * peel the moment its leaves do, while a ring of mutually-linking
   * domains survives any k ≤ ring degree. Output: the surviving
   * (node, core_deg) rows — core_deg is the node's degree WITHIN the
   * k-core (≥ k by definition).
   *
   * Peeling is inherently iterative (a removal can drop a neighbor
   * below k — the fixpoint is the classic chip-away): each round is one
   * degree aggregation + one semi-join edge filter, both keyed on node
   * ids, nothing global. Rounds are bounded by `maxRounds` as a safety
   * rail — the fixpoint is detected with ONE edge count per round,
   * observed on the round's cut job (the loop-control exception to the
   * no-actions rule, same as the connectedComponents convergence
   * check); the cut ([[Stage.cut]], releasing the round before) keeps
   * plan depth bounded. Worst case (a path graph peeling one end per
   * round) is O(n) rounds — real link graphs converge in tens; the
   * peel count monotonically shrinks so every round is cheaper than the
   * last.
   */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    // undirected simple: collapse direction + multi-edges, drop loops
    val und = edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    // the fixpoint test rides each round's cut job as an observed edge
    // count ([[Stage.cutObserved]]): one job per round
    def cutCounted(f: DataFrame): (DataFrame, Long) = {
      val (cp, row) = Stage.cutObserved(f, "graft_kcore_n", count(lit(1)).as("n"))
      (cp, row.getAs[Long]("n"))
    }
    val init = cutCounted(und)
    var e = init._1
    var nCur = init._2
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      val deg = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select("node")
      val (e2, n2) = cutCounted(e
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi"))
      done = n2 == nCur // fixpoint: nothing peeled this round
      Stage.release(e)
      e = e2
      nCur = n2
      round += 1
    }
    // a truncated peel is NOT a k-core (retained edges of sub-k nodes
    // inflate surviving neighbors' core_deg) and the caller could not
    // tell converged from cut-off output — surface it loudly
    if (!done)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"kCore(k=$k): maxRounds=$maxRounds exhausted BEFORE the peel " +
        "fixpoint - result is a superset of the k-core, not the k-core; " +
        "raise maxRounds (worst case O(n) rounds on path-like graphs)")
    e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_deg"))
      .filter(col("core_deg") >= k)
  }

  /**
   * Degree assortativity (Newman 2002) — the one-number wiring health
   * check: Pearson correlation of endpoint degrees over the edge list
   * (both orientations — the symmetric definition). Social graphs run
   * positive (hubs befriend hubs), link farms and star spam run
   * NEGATIVE (hubs pointing at throwaway leaves), r ≈ 0 is random
   * wiring — a crawl-graph fingerprint next to [[pageRank]]'s ranking
   * and [[triangleCounts]]' clustering. Computed from guarded moments
   * (the acf rule — a regular graph has zero degree variance and must
   * report NULL, not an ANSI divide error). One degree aggregation +
   * two node-keyed joins + one 1-row moment rollup.
   * Output: 1 row — n_nodes, n_edges, assortativity (4dp).
   */
  def assortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    val nb = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val deg = nb.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
    val ends = nb
      .join(deg.select(col("node").as("a"), col("deg").as("_da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("_db")), "b")
      .select(col("_da").cast("double").as("x"),
        col("_db").cast("double").as("y"))
    ends.agg(count(lit(1)).as("_n2"),
        covar_samp(col("x"), col("y")).as("_c"),
        stddev_samp(col("x")).as("_sx"), stddev_samp(col("y")).as("_sy"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
      .select(col("n_nodes"), expr("_n2 div 2").as("n_edges"),
        when(col("_sx") > 0 && col("_sy") > 0,
          round(col("_c") / (col("_sx") * col("_sy")), 4))
          .as("assortativity"))
  }

  /**
   * Link prediction scores (Liben-Nowell & Kleinberg 2003) — the
   * classic trio over an undirected graph: for every NON-adjacent pair
   * with at least one common neighbor, the common-neighbor count,
   * Jaccard coefficient cn/(deg_a + deg_b − cn), and Adamic–Adar
   * Σ_w 1/ln(deg w) (rare shared neighbors weigh more than hubs —
   * ln never hits 0 because a wedge center has degree ≥ 2). The
   * which-edge-is-missing primitive: citation recommendation, crawl
   * frontier scoring, knowledge-graph completion.
   *
   * Shape at scale: candidates come from the WEDGE join (each center's
   * neighbor pairs — the triangleCounts machinery), so cost is
   * Σ deg(w)² over centers, never |V|²; `maxWedgeDegree` drops
   * over-degree CENTERS from pair generation (the standard hub guard —
   * a celebrity node's wedge set is quadratic noise for prediction;
   * dropped centers still count toward degrees), replayed identically
   * by the oracle. Existing edges are anti-joined out. Everything is
   * equi-joins + one pair-keyed aggregation.
   *
   * Sampled mode (`sampleDegree` = s > 0): the hard hub gate becomes
   * an UNBIASED estimator — a web host graph has many centers just
   * under any cap, and the default cap still admits ~5·10⁷ wedges from
   * one 10⁴-degree hub. Each over-degree center keeps the neighbors
   * whose deterministic hash fraction falls below s/deg (Bernoulli
   * thinning; expected s survivors, pure narrow filter — no per-center
   * window, so a 10⁷-degree hub never pins a task), and every
   * surviving wedge carries the RATIO weight deg·(deg−1)/(k·(k−1))
   * with k = the center's realized survivor count — conditioning on k
   * removes the binomial variance of the plain (deg/s)² weight, so
   * each center's TOTAL wedge mass is reproduced exactly whenever
   * k ≥ 2 (a k ≤ 1 draw loses that center; P ≈ (1+s)e^{−s}, nil for
   * any real s). common_neighbors and adamic_adar become weight sums —
   * unbiased estimates of the exact scores (DOUBLE, 4dp; exact mode
   * keeps the LONG count), jaccard derives from the estimate; centers
   * with deg ≤ s contribute exactly. maxWedgeDegree is not applied in
   * sampled mode (sampling replaces the gate), and per-center work is
   * O(s²) expected regardless of degree — Σ deg² becomes |V|·s².
   * The spec pins small centers bit-exact and a 400-degree hub's total
   * mass exact at s = 50. In sampled mode the jaccard NUMERATOR is
   * clamped to min(deg_a, deg_b) — the true common-neighbor count's
   * hard upper bound — because an over-degree hub pair's ratio-weighted
   * estimate (weight ~ deg²/k² per wedge) can exceed deg_a + deg_b and
   * would otherwise drive the denominator negative; the clamp keeps
   * jaccard inside its [0, 1] contract (spec-pinned) while
   * common_neighbors itself stays the unbiased estimate.
   *
   * `sampleDegree = -1` (the DEFAULT) is AUTO: a degree-profile probe
   * (one max over the degree frame, which the plan reuses) keeps the
   * exact mode whenever no center exceeds maxWedgeDegree — every graph
   * without extreme hubs gets today's exact plan and LONG counts — and
   * switches to the sampled estimator at s = `autoSampleDegree` when
   * hubs would otherwise be silently DROPPED by the hard gate (the
   * web-host-graph regime: many centers just under any cap, ~5·10⁷
   * wedges each just above it). The auto switch changes the
   * common_neighbors type to DOUBLE (estimates are not counts) —
   * callers needing a stable schema pin the mode explicitly.
   * Output: id_a, id_b, common_neighbors, jaccard (4dp),
   * adamic_adar (4dp).
   */
  /** Wedge-sample size the AUTO route switches to when a center exceeds
   * maxWedgeDegree (the PairScaling `link_pred_sampled` tier value):
   * per-center work caps at ~64² = 4096 wedges, and the ratio estimator
   * at s = 64 reproduces each center's total wedge mass exactly
   * whenever ≥ 2 sampled neighbors survive (P(k ≤ 1) ≈ 65·e⁻⁶⁴ — nil). */
  val autoSampleDegree: Int = 64

  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
      maxWedgeDegree: Int = 10000, sampleDegree: Int = -1): DataFrame = {
    require(maxWedgeDegree >= 2, s"maxWedgeDegree must be >= 2: $maxWedgeDegree")
    require(sampleDegree == -1 || sampleDegree == 0 || sampleDegree >= 2,
      s"sampleDegree must be -1 (auto), 0 (exact) or >= 2: $sampleDegree")
    val und0 = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    // AUTO route: the probe ACTION below materializes the degree
    // aggregation, whose lineage includes the edge canonicalize +
    // distinct — pin BOTH frames (tracked: edge-count- and
    // node-count-sized) so the probe's pass is the same one the main
    // plan's neighbor/degree joins and the final anti-join read,
    // instead of a second full edge scan (the r18 sf1 sweep measured
    // the unpinned probe pushing the gate's slope to 1.03)
    val und = if (sampleDegree >= 0) und0 else CacheScope.track(und0)
    val nb = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
      .select(col("a").as("ctr"), col("b").as("n"))
    val deg0 = nb.groupBy(col("ctr").as("node"))
      .agg(count(lit(1)).as("deg"))
    val deg = if (sampleDegree >= 0) deg0 else CacheScope.track(deg0)
    val effSample =
      if (sampleDegree >= 0) sampleDegree
      else {
        val maxDeg = Option(deg.agg(max(col("deg"))).collect()(0).get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        if (maxDeg > maxWedgeDegree) autoSampleDegree else 0
      }
    val withDeg = nb.join(deg.withColumnRenamed("node", "ctr"), "ctr")
    val exact = effSample == 0
    val centers =
      if (exact) withDeg.filter(col("deg") <= maxWedgeDegree)
      else {
        val s = effSample.toDouble
        // deterministic Bernoulli thinning at rate s/deg: hash fraction
        // in [0, 1) from xxhash64 — a pure function of (ctr, n), so
        // both wedge sides of a surviving neighbor agree
        val frac = pmod(xxhash64(lit("lpwedge"), col("ctr"), col("n")),
          lit(1000000007L)).cast("double") / 1000000007.0
        val kept = withDeg.filter(col("deg") <= effSample ||
          frac < lit(s) / col("deg"))
        // realized survivor count per center: the ratio-weight
        // denominator (one keyed count + keyed join — never a window)
        kept.join(kept.groupBy("ctr").agg(count(lit(1)).as("_k")), "ctr")
      }
    val w =
      if (exact) lit(1.0)
      else when(col("x.deg") <= effSample, lit(1.0))
        .otherwise(col("x.deg").cast("double") * (col("x.deg") - 1) /
          (col("x._k").cast("double") * (col("x._k") - 1)))
    // pin the wedge join's width with an explicit keyed repartition: the
    // per-center pair generation is the O(s²) CPU stage, and AQE's
    // byte-sized coalescing otherwise shrinks the tiny-bytes exchange to
    // ONE partition (r18 measured a single 2.5 s task under a sub-second
    // parallel plan). REPARTITION_BY_NUM is not coalescable, the SMJ
    // reuses it on both sides, and N is the session shuffle parallelism
    // — the cluster-sized setting, not a local constant.
    val nPart = edges.sparkSession.sessionState.conf.numShufflePartitions
    val centersP = centers.repartition(nPart, col("ctr"))
    val scored = centersP.as("x")
      .join(centersP.as("y"),
        col("x.ctr") === col("y.ctr") && col("x.n") < col("y.n"))
      .select(col("x.n").as("a"), col("y.n").as("b"),
        col("x.deg").as("_dw"), w.as("_w"))
    val pairs = (
      if (exact)
        scored.groupBy("a", "b")
          .agg(count(lit(1)).as("common_neighbors"),
            sum(lit(1.0) / log(col("_dw"))).as("_aa"))
      else
        scored.groupBy("a", "b")
          .agg(sum(col("_w")).as("_cnRaw"),
            sum(col("_w") / log(col("_dw"))).as("_aa"))
          .select(col("a"), col("b"),
            round(col("_cnRaw"), 4).as("common_neighbors"), col("_aa"))
      ).join(und, Seq("a", "b"), "left_anti") // score NON-edges only
    // sampled mode: clamp the jaccard numerator to min(deg_a, deg_b) —
    // the exact count's hard bound — so an over-estimated hub pair can
    // never drive the denominator negative; exact mode already satisfies
    // the bound and keeps its bit-identical gate output untouched
    val cnJ =
      if (exact) col("common_neighbors").cast("double")
      else least(col("common_neighbors"),
        least(col("_da"), col("_db")).cast("double"))
    pairs
      .join(deg.select(col("node").as("a"), col("deg").as("_da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("_db")), "b")
      .select(col("a").as("id_a"), col("b").as("id_b"),
        col("common_neighbors"),
        round(cnJ / (col("_da") + col("_db") - cnJ), 4).as("jaccard"),
        round(col("_aa"), 4).as("adamic_adar"))
  }

  /**
   * Label-propagation communities (Raghavan et al. 2007) — the
   * near-linear community detector that groups what PageRank only
   * ranks (duplicate mirror-site clusters, topic silos, link farms
   * show up as communities; [[kCore]] finds THE dense core, LPA
   * partitions everything): every node starts labeled with itself, and
   * each SYNCHRONOUS round relabels every node with the most frequent
   * label among its neighbors.
   *
   * Determinism contract: classic LPA breaks count ties randomly and
   * updates asynchronously — neither replays. Here ties break to the
   * SMALLEST label (count desc, label asc) and all nodes update
   * together for exactly `iters` rounds, which makes the whole run a
   * pure function of the edge set — the oracle unrolls the identical
   * rounds as CTEs (the pageRank/hits construction). The cost of
   * synchronous updates is the known bipartite two-coloring
   * oscillation; fixed `iters` makes that a defined output, and
   * callers wanting a stable partition run connectedComponents on the
   * (node, label) agreement graph or just use even `iters`.
   *
   * Scale shape: undirected simple normalization (the kCore rule),
   * then per round ONE neighbor⋈labels join (shuffle on the edge
   * endpoint) + one (node, label) count + one max_by argmax
   * aggregation — node-keyed throughout, no windows, no actions;
   * lineage is cut ([[Stage.cut]]) every `checkpointEvery` rounds, each
   * cut releasing the one before; the cut edge set lives as long as the
   * returned frame, which reads it. Isolated nodes never appear (an edge
   * frame has none).
   * Output: (node, label) — label is the community's min founding id
   * under convergence, an arbitrary-but-deterministic id otherwise.
   */
  def labelProp(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, checkpointEvery: Int = 4): DataFrame = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val und = Stage.cut(edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct())
    // both directions: neighbor lists are symmetric
    val nbrs = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    var labels = nbrs.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    var lastCut: Option[DataFrame] = None
    for (t <- 0 until iters) {
      labels = nbrs
        .join(labels.withColumnRenamed("node", "b"), "b")
        .groupBy(col("a"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("a").as("node"))
        .agg(max_by(col("label"), struct(col("c"), negate(col("label"))))
          .as("label"))
      if ((t + 1) % checkpointEvery == 0 && t + 1 < iters) {
        labels = Stage.cut(labels)
        lastCut.foreach(Stage.release)
        lastCut = Some(labels)
      }
    }
    labels
  }

  /**
   * BFS hop distance from a seed set — the crawl-frontier / lineage
   * depth question ("how many link hops from the seed list is this
   * host", "which records are within k joins of a trusted root"):
   * dist(seed) = 0, then `maxHops` rounds of frontier relaxation
   * dist(u) = min(dist(u), min over edges v->u of dist(v) + 1) along
   * EDGE DIRECTION (pass a symmetrized edge list for the undirected
   * reading). Only REACHED nodes appear — unreachable-within-maxHops
   * is absence, not a sentinel distance. Rounds are synchronous keyed
   * join+min aggregations (the pageRank loop shape, a [[Stage.cut]]
   * every `checkpointEvery` rounds to bound lineage); maxHops scales
   * round count, never pair space.
   * Output: node, dist (long).
   */
  def hopDistance(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int,
      checkpointEvery: Int = 8): DataFrame = {
    require(maxHops >= 0 && maxHops <= 64, s"maxHops in [0,64]: $maxHops")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L))
    var lastCut: Option[DataFrame] = None
    for (t <- 0 until maxHops) {
      val relaxed = e
        .join(dist.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg((min(col("dist")) + 1L).as("_d"))
      dist = dist.join(relaxed, Seq("node"), "full_outer")
        .select(col("node"),
          least(coalesce(col("dist"), col("_d")),
            coalesce(col("_d"), col("dist"))).as("dist"))
      if ((t + 1) % checkpointEvery == 0 && t + 1 < maxHops) {
        dist = Stage.cut(dist)
        lastCut.foreach(Stage.release)
        lastCut = Some(dist)
      }
    }
    dist
  }
}
