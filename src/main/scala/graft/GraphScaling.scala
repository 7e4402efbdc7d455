package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Graph

/**
 * Constant-DENSITY graph scaling evidence (SURVEY §6): wall time vs node
 * count at 1x/2x/4x/10x nodes with CONSTANT expected degree — the regime
 * the wedge/Σdeg² envelopes are designed for, complementing the sf1
 * sweep's fixed-997-node DENSIFICATION regime (10× edges on the same
 * nodes, where slope > 1 is the documented truth-set effect, not an
 * operator defect).
 *
 * Construction: copy c of the orders table contributes |orders| edges
 * shifted by copy-distinct odd strides and projected mod (m·997), so an
 * m-fold graph has m× nodes, m× edges, and the SAME per-node degree
 * profile — operator cost under constant density is then directly
 * comparable across m.
 *
 * Run: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.GraphScaling"
 * Prints one JSON line per (op, multiple) and a final summary with the
 * fitted end-to-end log-slope (log(t_m/t_1)/log(m) at the largest m).
 */
object GraphScaling {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val multiples = Seq(1, 2, 4, 10)
    val spark = GraftSession.forMain()

    val only = sys.env.get("SPARK_GRAFT_SCALING_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(name: String): Boolean = only.forall(_.contains(name))

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_custkey", "o_orderkey")

    /** m× nodes, m× edges, constant degree: copy strides are odd so the
     * mod projection stays well-spread over the enlarged node space. */
    def edges(m: Int): DataFrame = {
      val n = m * 997L
      (0 until m).map { c =>
        orders.select(
          pmod(col("o_custkey") + lit(c * 1000003L), lit(n)).as("src"),
          pmod(col("o_orderkey") + lit(c * 9999991L), lit(n)).as("dst"))
      }.reduce(_.unionAll(_))
    }

    val ops: Seq[(String, DataFrame => Long)] = Seq(
      "graph_link_pred" -> ((e: DataFrame) =>
        Graph.linkPrediction(e, "src", "dst")
          .orderBy(desc("common_neighbors"), col("id_a"), col("id_b"))
          .limit(100).count()),
      "graph_hits" -> ((e: DataFrame) =>
        Graph.hits(e, "src", "dst", iters = 8).count()),
      "graph_pagerank" -> ((e: DataFrame) =>
        Graph.pageRank(e, "src", "dst", iters = 5).count()),
      "graph_triangles" -> ((e: DataFrame) =>
        Graph.triangleCounts(e, "src", "dst").count())
    )

    val results = scala.collection.mutable.Map[(String, Int), Double]()
    for ((name, run) <- ops if wanted(name); m <- multiples) {
      var e = edges(m).persist()
      e.count() // materialize outside the timed region
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        run(e)
        val sec = (System.nanoTime() - t0) / 1e9
        // release op-internal caches OUTSIDE the timer; clearCache also
        // evicts the persisted edge input, so re-persist + count it back
        // before the next rep — reps must all start from a materialized
        // input, or reps 2..n silently re-time the m-way union build
        spark.catalog.clearCache()
        e = edges(m).persist()
        e.count()
        sec
      }
      e.unpersist(false)
      val med = median(times)
      results((name, m)) = med
      println(f"""{"op":"$name","m":$m,"nodes":${m * 997},"sec":$med%.4f,"min":${times.min}%.4f}""")
    }
    val slopes = ops.map(_._1).filter(wanted).flatMap { name =>
      for (t1 <- results.get((name, multiples.head));
           tm <- results.get((name, multiples.last)))
        yield s""""$name":${f"${math.log(tm / t1) / math.log(multiples.last.toDouble / multiples.head)}%.3f"}"""
    }
    println(s"""{"metric":"graph_scaling_slopes","const_degree":true,"slopes":{${slopes.mkString(",")}}}""")
    spark.stop()
  }
}
