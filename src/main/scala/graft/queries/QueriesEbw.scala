package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ebw.{DesignMatrix, EbwOptions, EntropyBalance, GroupedEntropyBalance}
import graft.ops.{Dedup, Similarity, Skew, TextMetrics}
import graft.QShared._

/** entropy-balance solver gates (the reference core) — one `queries` entry per gate with its DuckDB oracle in
 * `oracles` (same names, same column aliases, same rounding; the
 * SparkEntry contract). Split out of the SparkEntry monolith so an
 * edit to one family can never touch another family's oracle text. */
private[graft] object QueriesEbw {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2a — EBW
    "ebw_poststrat" -> ((s, dir) => ebwPoststrat(s, dir)),
    "ebw_ipf_raking" -> ((s, dir) => {
      // two-margin IPF raking of orders (status x priority) to literal
      // interior target shares, EXACTLY 8 alternating rounds (tol = 0)
      // so the oracle unrolls the identical arithmetic; cell-level
      // report (the per-row weight is cell-constant x w0 = 1)
      val o = t(s, dir, "orders").withColumn("w0", lit(1.0))
      graft.ebw.Raking.ipf(o, "o_orderstatus", "o_orderpriority", "w0",
          rowTargets = Map("O" -> 0.5, "F" -> 0.3, "P" -> 0.2),
          colTargets = Map("1-URGENT" -> 0.3, "2-HIGH" -> 0.25,
            "3-MEDIUM" -> 0.2, "4-NOT SPECIFIED" -> 0.15, "5-LOW" -> 0.1),
          iters = 8, tol = 0.0)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum("weight_raked"), 4).as("w_cell"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),
    "ebw_token_mix" -> ((s, dir) => {
      // token-budget mixture balancing — the reference's raking applied
      // to the LLM-pipeline question "sample so the TOKEN distribution,
      // not the doc count, matches the target mix": rake the corpus's
      // token mass over (lang × length bucket) to literal margin shares.
      // w0 = whitespace token count; 8 alternating rounds, tol = 0, so
      // the oracle unrolls the identical cell-level arithmetic
      val d = t(s, dir, "documents")
        .withColumn("tok",
          size(filter(split(col("text"), "\\s+"), w => w =!= ""))
            .cast("double"))
        .withColumn("len_bucket", when(col("n_chars") < 250, "short")
          .when(col("n_chars") < 350, "mid").otherwise("long"))
      graft.ebw.Raking.ipf(d, "lang", "len_bucket", "tok",
          rowTargets = Map("en" -> 0.3, "de" -> 0.175, "es" -> 0.175,
            "fr" -> 0.175, "zh" -> 0.175),
          colTargets = Map("short" -> 0.3, "mid" -> 0.4, "long" -> 0.3),
          iters = 8, tol = 0.0)
        .groupBy("lang", "len_bucket")
        .agg(count(lit(1)).as("n"),
          sum("tok").cast("long").as("tokens"),
          round(sum("weight_raked"), 4).as("w_cell"))
        .orderBy("lang", "len_bucket")
    }),
    "ebw_moments_match" -> ((s, dir) => ebwMomentsMatch(s, dir, None)),
    "ebw_bounded_feasible" -> ((s, dir) =>
      ebwMomentsMatch(s, dir, Some((0.05, Some(20.0))))),
    "ebw_sparse_bigk" -> ((s, dir) => {
      // k=997 one-hot: exercises the sparse-Gram + CG large-k path under
      // the oracle gate; closed-form poststratification weights in SQL
      val orders = t(s, dir, "orders")
        .withColumn("grp", (col("o_orderkey") % 997).cast("string"))
        .withColumn("w0", lit(1.0))
      val (dfv, labels) = DesignMatrix.oneHot(orders, "grp", "feat")
      val k = labels.length
      val res = EntropyBalance.entropyBalance(dfv, "feat", "w0",
        Array.fill(k)(1.0 / k), options = EbwOptions(optimalityTol = 1e-11))
      res.weighted
        .select(col("o_orderkey"), round(col("weight_new"), 6).as("new_weight"))
        .orderBy("o_orderkey")
    }),
    "ebw_grouped_bigk" -> ((s, dir) => {
      // the round-14 grouped DISTRIBUTED-GRAM tier under the oracle
      // gate: two simultaneous poststratification problems at ~600
      // one-hot cells with gramMode=distributed — each group routes
      // through the single-problem RDD-Gram + CG solver (sequential
      // shards) and the outputs stitch into one weighted frame. Cells
      // are restricted to those present in BOTH groups so the
      // equal-share target is feasible everywhere (the
      // ebw_grouped_scale filter rule, here on the cell axis).
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"),
          (col("o_custkey") % 2).cast("string").as("grp"),
          (col("o_orderkey") % 600).cast("string").as("cell"))
      val fullCells = orders.groupBy("cell")
        .agg(countDistinct("grp").as("ng")).filter(col("ng") === 2)
        .select("cell")
      val base = orders.join(fullCells, Seq("cell"))
        .withColumn("w0", lit(1.0))
      val (dfv, labels) = DesignMatrix.oneHot(base, "cell", "feat")
      val k = labels.length
      val targets = Seq("0", "1").map(g => g -> Array.fill(k)(1.0 / k)).toMap
      val res = GroupedEntropyBalance.entropyBalanceGrouped(
        dfv, "grp", "feat", "w0", targets,
        options = EbwOptions(optimalityTol = 1e-11, maxSteps = 60,
          denseGramMax = 256, gramMode = "distributed"))
      res.weighted
        .select(col("o_orderkey"), round(col("weight_new"), 6).as("new_weight"))
        .orderBy("o_orderkey")
    }),
    "ebw_grouped_poststrat" -> ((s, dir) => {
      // many problems, one scan per Newton round: an independent
      // priority-poststratification per order status
      val orders = t(s, dir, "orders").withColumn("w0", lit(1.0))
      val (dfv, labels) = DesignMatrix.oneHot(orders, "o_orderpriority", "feat")
      val k = labels.length
      val statuses = orders.select(col("o_orderstatus").cast("string")).distinct()
        .collect().map(_.getString(0))
      val targets = statuses.map(st => st -> Array.fill(k)(1.0 / k)).toMap
      val res = GroupedEntropyBalance.entropyBalanceGrouped(
        dfv, "o_orderstatus", "feat", "w0", targets,
        options = EbwOptions(optimalityTol = 1e-11, maxSteps = 60))
      res.weighted
        .select(col("o_orderkey"), round(col("weight_new"), 6).as("new_weight"))
        .orderBy("o_orderkey")
    }),
    "ebw_grouped_scale" -> ((s, dir) => {
      // grouped-solver SCALE probe (bench-visible): 500 simultaneous
      // poststratification problems advanced together, one shared Newton
      // kernel pass per round — the regression canary for the G-group
      // production shape.
      // Sparse orderkeys leave thin groups at tiny SF, so groups missing
      // a cell are filtered out (equal-share targets would be infeasible
      // there); the filter is part of the shared semantics and at bench
      // scale (sf0.1) virtually all 500 groups survive
      val orders = t(s, dir, "orders")
        .withColumn("grp", (col("o_orderkey") % 500).cast("string"))
        .withColumn("cell",
          when(col("o_orderkey") % 7 < 3, "A").otherwise("B"))
        .withColumn("w0", lit(1.0))
      val full = orders.groupBy("grp")
        .agg(countDistinct(col("cell")).as("nc")).filter(col("nc") === 2)
        .select("grp")
      val kept = orders.join(full, "grp")
      val (dfv, labels) = DesignMatrix.oneHot(kept, "cell", "feat")
      val k = labels.length
      val grps = kept.select(col("grp")).distinct()
        .collect().map(_.getString(0))
      val targets = grps.map(g => g -> Array.fill(k)(1.0 / k)).toMap
      val res = GroupedEntropyBalance.entropyBalanceGrouped(
        dfv, "grp", "feat", "w0", targets,
        options = EbwOptions(optimalityTol = 1e-11, maxSteps = 60))
      res.weighted
        .select(col("o_orderkey"), round(col("weight_new"), 6).as("new_weight"))
        .orderBy("o_orderkey")
    }),
    "ebw_penalty" -> ((s, dir) => {
      val orders = t(s, dir, "orders").withColumn("w0", lit(1.0))
      val (dfv, labels) = DesignMatrix.oneHot(orders, "o_orderpriority", "feat")
      val k = labels.length
      val res = EntropyBalance.entropyBalancePenalty(dfv, "feat", "w0",
        Array.fill(k)(1.0 / k), Array(2.0),
        options = EbwOptions(optimalityTol = 1e-10, stepTol = 1e-12))
      res.weighted
        .select(col("o_orderkey"), round(col("weight_new"), 6).as("new_weight"))
        .orderBy("o_orderkey")
    }),
    "ebw_grouped_penalty" -> ((s, dir) => {
      // one penalty problem per order status, all advanced in shared passes
      val orders = t(s, dir, "orders").withColumn("w0", lit(1.0))
      val (dfv, labels) = DesignMatrix.oneHot(orders, "o_orderpriority", "feat")
      val k = labels.length
      val statuses = orders.select(col("o_orderstatus").cast("string")).distinct()
        .collect().map(_.getString(0))
      val targets = statuses.map(st => st -> Array.fill(k)(1.0 / k)).toMap
      val res = GroupedEntropyBalance.entropyBalancePenaltyGrouped(
        dfv, "o_orderstatus", "feat", "w0", targets, Array(2.0),
        options = EbwOptions(optimalityTol = 1e-10, maxSteps = 60))
      res.weighted
        .select(col("o_orderkey"), round(col("weight_new"), 6).as("new_weight"))
        .orderBy("o_orderkey")
    }),
    "ebw_equalize_groups" -> ((s, dir) => {
      // pums_example.py semantics: reweight so every market segment has the
      // national weighted mean account balance, preserving segment totals
      val cust = t(s, dir, "customer")
        .withColumn("bal_k", col("c_acctbal") / 1000.0)
        .withColumn("w0", lit(1.0))
      val (dfv, m, _) = DesignMatrix.equalizeGroups(
        cust, "c_mktsegment", Seq("bal_k"), "w0", "feat")
      val res = EntropyBalance.entropyBalance(dfv, "feat", "w0", m,
        options = EbwOptions(optimalityTol = 1e-10))
      res.weighted
        .groupBy(col("c_mktsegment").as("grp"))
        .agg(round(sum(col("bal_k") * col("weight_new")) / sum(col("weight_new")), 4)
          .as("mean_bal_k"))
        .orderBy("grp")
    }),
    "ebw_lineitem" -> ((s, dir) => {
      // scale-representative solve: 3 continuous moments over lineitem,
      // targets from the deterministic l_orderkey%5==0 subpopulation
      val li = t(s, dir, "lineitem")
        .withColumn("price_k", col("l_extendedprice") / 1000.0)
        .withColumn("w0", lit(1.0))
        .withColumn("feat", array(col("l_quantity"), col("price_k"), col("l_discount")))
      val sub = li.filter(col("l_orderkey") % 5 === 0)
      val mr = sub.agg(avg("l_quantity"), avg("price_k"), avg("l_discount")).collect()(0)
      val m = Array(mr.getDouble(0), mr.getDouble(1), mr.getDouble(2))
      val res = EntropyBalance.entropyBalance(li, "feat", "w0", m,
        options = EbwOptions(optimalityTol = 1e-10))
      val w = res.weighted.agg(sum("w0"),
        sum(col("l_quantity") * col("weight_new")),
        sum(col("price_k") * col("weight_new")),
        sum(col("l_discount") * col("weight_new"))).collect()(0)
      import s.implicits._
      Seq(("m0_quantity", w.getDouble(1) / w.getDouble(0)),
        ("m1_price_k", w.getDouble(2) / w.getDouble(0)),
        ("m2_discount", w.getDouble(3) / w.getDouble(0)))
        .toDF("moment", "value")
        .select(col("moment"), round(col("value"), 5).as("value"))
        .orderBy("moment")
    }),
  )

  val oracles: Map[String, String] = Map(
    "ebw_ipf_raking" -> ipfOracle(8),
    "ebw_token_mix" -> tokenMixOracle(8),
    "ebw_poststrat" ->
      """SELECT o.o_orderkey,
        |  round(((SELECT count(*) FROM orders) * 1.0 /
        |         (SELECT count(DISTINCT o_orderpriority) FROM orders)) / g.c, 6)
        |    AS new_weight
        |FROM orders o
        |JOIN (SELECT o_orderpriority, count(*) * 1.0 AS c
        |      FROM orders GROUP BY 1) g
        |  ON o.o_orderpriority = g.o_orderpriority
        |ORDER BY o.o_orderkey""".stripMargin,
    "ebw_moments_match" -> ebwMomentsOracle,
    "ebw_bounded_feasible" -> ebwMomentsOracle,
    "ebw_equalize_groups" ->
      """SELECT DISTINCT c_mktsegment AS grp,
        |  (SELECT round(avg(c_acctbal/1000.0), 4) FROM customer) AS mean_bal_k
        |FROM customer ORDER BY grp""".stripMargin,
    "ebw_lineitem" ->
      """SELECT 'm0_quantity' AS moment, round(avg(l_quantity), 5) AS value
        |FROM lineitem WHERE l_orderkey % 5 = 0
        |UNION ALL
        |SELECT 'm1_price_k' AS moment, round(avg(l_extendedprice/1000.0), 5) AS value
        |FROM lineitem WHERE l_orderkey % 5 = 0
        |UNION ALL
        |SELECT 'm2_discount' AS moment, round(avg(l_discount), 5) AS value
        |FROM lineitem WHERE l_orderkey % 5 = 0
        |ORDER BY moment""".stripMargin,
    "ebw_grouped_bigk" ->
      """WITH o AS (SELECT o_orderkey,
        |    (o_custkey % 2)::VARCHAR AS grp,
        |    (o_orderkey % 600)::VARCHAR AS cell
        |  FROM orders),
        |full_c AS (SELECT cell FROM o GROUP BY cell
        |           HAVING count(DISTINCT grp) = 2),
        |k0 AS (SELECT o.* FROM o JOIN full_c USING (cell)),
        |kc AS (SELECT count(*) AS nk FROM full_c),
        |s AS (SELECT grp, count(*) AS n FROM k0 GROUP BY grp),
        |c AS (SELECT grp, cell, count(*) * 1.0 AS nc
        |      FROM k0 GROUP BY grp, cell)
        |SELECT k0.o_orderkey,
        |  round((s.n * 1.0 / kc.nk) / c.nc, 6) AS new_weight
        |FROM k0 JOIN s USING (grp)
        |JOIN c ON k0.grp = c.grp AND k0.cell = c.cell, kc
        |ORDER BY k0.o_orderkey""".stripMargin,
    "ebw_grouped_poststrat" ->
      """SELECT o.o_orderkey,
        |  round((s.cs * 1.0 /
        |         (SELECT count(DISTINCT o_orderpriority) FROM orders)) / g.c, 6)
        |    AS new_weight
        |FROM orders o
        |JOIN (SELECT o_orderstatus, count(*) AS cs
        |      FROM orders GROUP BY 1) s
        |  ON o.o_orderstatus = s.o_orderstatus
        |JOIN (SELECT o_orderstatus, o_orderpriority, count(*) * 1.0 AS c
        |      FROM orders GROUP BY 1, 2) g
        |  ON o.o_orderstatus = g.o_orderstatus
        | AND o.o_orderpriority = g.o_orderpriority
        |ORDER BY o.o_orderkey""".stripMargin,
    "ebw_grouped_scale" ->
      """WITH o AS (SELECT o_orderkey,
        |    (o_orderkey % 500)::VARCHAR AS grp,
        |    CASE WHEN o_orderkey % 7 < 3 THEN 'A' ELSE 'B' END AS cell
        |  FROM orders),
        |full_g AS (SELECT grp FROM o GROUP BY grp
        |           HAVING count(DISTINCT cell) = 2),
        |k AS (SELECT o.* FROM o JOIN full_g USING (grp)),
        |s AS (SELECT grp, count(*) AS n FROM k GROUP BY grp),
        |c AS (SELECT grp, cell, count(*) * 1.0 AS nc FROM k GROUP BY grp, cell)
        |SELECT k.o_orderkey, round((s.n * 0.5) / c.nc, 6) AS new_weight
        |FROM k JOIN s USING (grp)
        |JOIN c ON k.grp = c.grp AND k.cell = c.cell
        |ORDER BY k.o_orderkey""".stripMargin,
    "ebw_sparse_bigk" ->
      """SELECT o.o_orderkey,
        |  round(((SELECT count(*) FROM orders) * 1.0 /
        |         (SELECT count(DISTINCT o_orderkey % 997) FROM orders)) / g.c, 6)
        |    AS new_weight
        |FROM orders o
        |JOIN (SELECT o_orderkey % 997 AS grp, count(*) * 1.0 AS c
        |      FROM orders GROUP BY 1) g
        |  ON o.o_orderkey % 997 = g.grp
        |ORDER BY o.o_orderkey""".stripMargin,
    "ebw_penalty" -> ebwPenaltyOracle,
    "ebw_grouped_penalty" -> ebwGroupedPenaltyOracle,
  )
}
